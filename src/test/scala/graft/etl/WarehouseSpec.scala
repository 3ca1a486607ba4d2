package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.JobCounting
import org.apache.spark.sql.functions.{col, lit, upper}
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The manifest commit protocol ([[Warehouse]]) under every crash state
  * a commit can leave on disk, built here by hand — data written with no
  * manifest, a temp manifest never linked, a linked manifest whose temp
  * file survived, a vacuum stopped half way — for one table and for a
  * table group: reads return the last committed version (never a mixed
  * group), the next commit succeeds, and vacuum reclaims the orphans.
  */
class WarehouseSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private def freshWh() = Warehouse(
    org.apache.spark.ScratchDirs.create("graft_whspec").toString)

  /** `n` rows, each stamped with `v`. */
  private def stamped(v: Long, n: Int = 3) =
    spark.range(n).select(lit(v).as("v"))

  private def stamps(wh: Warehouse, table: String): Set[Long] =
    wh.read(spark, "gold", table).select("v").as[Long].collect().toSet

  private def logFiles(log: Path): Seq[String] = {
    val s = Files.list(log)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
  }

  private def temps(log: Path): Seq[String] = logFiles(log).filter(_.startsWith("."))

  /** Drives the four crash states through one table group; `commit`
    * writes version `v` of every member, `read` returns the stamps every
    * member holds as one set per member. */
  private def crashStates(wh: Warehouse, owner: String,
                          commit: Long => Unit,
                          read: () => Seq[Set[Long]]): Unit = {
    val dir = Paths.get(wh.path("gold", owner))
    val log = dir.resolve("_log")
    def sees(v: Long) = assert(read().forall(_ == Set(v)), read())
    commit(1L)
    // data written, no manifest
    stamped(2L).write.parquet(dir.resolve("_cdead").toString)
    sees(1L)
    // temp manifest written, not linked: a whole commit minus its link
    commit(3L)
    Files.move(log.resolve("1.json"), log.resolve(".unlinked.tmp"))
    sees(1L)
    // the next commit succeeds, taking the version the crash never linked
    commit(4L)
    assert(Files.exists(log.resolve("1.json")))
    sees(4L)
    // manifest linked, temp file left behind
    Files.copy(log.resolve("1.json"), log.resolve(".linked.tmp"))
    sees(4L)
    commit(5L)
    sees(5L)
    // vacuum half done: superseded manifests pruned, their files not yet
    Files.delete(log.resolve("0.json"))
    Files.delete(log.resolve("1.json"))
    sees(5L)
    commit(6L)
    sees(6L)
    assert(WarehouseTestKit.unreferenced(wh, "gold", owner).nonEmpty)
    // vacuum reclaims every orphan: data of crashed and superseded
    // writes, temp manifests, superseded manifests
    wh.vacuum(WarehouseTestKit.afterRetention)
    sees(6L)
    assert(WarehouseTestKit.unreferenced(wh, "gold", owner).isEmpty)
    assert(!Files.exists(dir.resolve("_cdead")))
    assert(temps(log).isEmpty, temps(log))
    assert(logFiles(log) === Seq("3.json"))
    // a vacuum within the retention deletes nothing a reader might hold
    commit(7L)
    val before = WarehouseTestKit.onDisk(wh, "gold", owner)
    wh.vacuum()
    assert(WarehouseTestKit.onDisk(wh, "gold", owner) === before)
    sees(7L)
  }

  test("crash states of a table commit: last version read, next commit, vacuum") {
    val wh = freshWh()
    crashStates(wh, "t",
      v => wh.overwrite(stamped(v), "gold", "t"),
      () => Seq(stamps(wh, "t")))
  }

  test("crash states of a group commit: never a mixed group; vacuum reclaims") {
    val wh = freshWh()
    val members = Seq("g_a", "g_b")
    crashStates(wh, "g",
      v => wh.commit("gold", "g", members.map(m =>
        Warehouse.Write(m,
          spark.range(3).select(lit(v).as("v"), (col("id") % 2).as("p")),
          partCols = Seq("p"))): _*),
      () => {
        // one pinned version serves every member
        val snap = wh.snapshot("gold", "g")
        members.map(m => snap.read(spark, m).select("v").as[Long].collect().toSet)
      })
    // a member write commits a new group version and leaves the others
    wh.appendPartitioned(stamped(7L, 1).withColumn("p", lit(5L)), "gold", "g_a",
      Seq("p"))
    assert(wh.read(spark, "gold", "g_a").count() === 4L)
    assert(wh.read(spark, "gold", "g_b").count() === 3L)
  }

  test("an overwrite computed from its own table is safe and atomic") {
    val wh = freshWh()
    wh.overwritePartitioned(Seq((1L, "a", 0), (2L, "b", 1)).toDF("k", "v", "p"),
      "gold", "t", Seq("p"))
    // the new version's plan scans the version it replaces
    wh.overwritePartitioned(wh.read(spark, "gold", "t")
      .withColumn("v", upper(col("v"))), "gold", "t", Seq("p"))
    assert(wh.read(spark, "gold", "t").as[(Long, String, Int)].collect().toSet ===
      Set((1L, "A", 0), (2L, "B", 1)))
    // so does a partition replace, which keeps the partitions it misses
    wh.overwritePartitionsDynamic(wh.read(spark, "gold", "t")
      .filter(col("p") === 1).withColumn("k", col("k") * 10), "gold", "t", Seq("p"))
    assert(wh.read(spark, "gold", "t").as[(Long, String, Int)].collect().toSet ===
      Set((1L, "A", 0), (20L, "B", 1)))
    // a failing overwrite commits nothing
    intercept[Exception] {
      wh.overwrite(wh.read(spark, "gold", "t")
        .withColumn("k", org.apache.spark.sql.functions.raise_error(lit("boom"))),
        "gold", "t")
    }
    assert(wh.read(spark, "gold", "t").count() === 2L)
    // a partitioned write keeps the column types it was written with
    assert(wh.read(spark, "gold", "t").schema("p").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("concurrent reads during swaps: no failure, no stranded ._tmp (r11 ADVICE race)") {
    // the production shape: the ingest loop compacts (overwrites) the
    // same table concurrent probes read. Every read pins one version,
    // whose files outlive the commits that supersede it, so no read
    // fails — not even transiently — and every read is one whole
    // version.
    val wh = freshWh()
    wh.overwrite(Seq.tabulate(64)(i => (i.toLong, s"v$i")).toDF("k", "v"),
      "gold", "race")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          try assert(wh.read(spark, "gold", "race").count() === 64L)
          catch { case t: Throwable => readerErr.set(t); stop.set(true) }
        }
      })
    }
    readers.foreach(_.start())
    try {
      (1 to 8).foreach { _ =>
        wh.overwrite(wh.read(spark, "gold", "race"), "gold", "race")
      }
    } finally { stop.set(true); readers.foreach(_.join(30000)) }
    assert(readerErr.get() === null,
      s"reader failed during overwrites: ${readerErr.get()}")
    assert(temps(WarehouseTestKit.log(wh, "gold", "race")).isEmpty)
    assert(wh.snapshot("gold", "race").version === 8L)
    assert(wh.read(spark, "gold", "race").count() === 64L)
  }

  test("concurrent commits to one table: every writer's rows survive") {
    // writers that lose the link race re-apply their change to the
    // version that won, without rewriting data
    val wh = freshWh()
    val threads = (1 to 6).map { i =>
      new Thread(() => wh.append(stamped(i.toLong, 1), "gold", "many"))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(stamps(wh, "many") === (1L to 6L).toSet)
    assert(wh.snapshot("gold", "many").version === 5L)
  }

  /** The footer of the Parquet file at `p`. */
  private def footer(p: Path): FileMetaData = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(p.toString), new Configuration()))
    try r.getFooter.getFileMetaData finally r.close()
  }

  /** The data files a plain `df.write.parquet` puts in `dir`. */
  private def sparkWritten(df: org.apache.spark.sql.DataFrame, dir: Path): Seq[Path] = {
    df.write.parquet(dir.toString)
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
    finally s.close()
  }

  /** The data files of `table`'s latest version. */
  private def committed(wh: Warehouse, layer: String, table: String): Seq[Path] =
    WarehouseTestKit.files(wh, layer, table).map(f => Paths.get(wh.path(layer, table), f.path))

  private val at = Timestamp.valueOf("2025-01-02 03:04:05.123456")
  private val entries = Seq(
    EtlLogEntry(1L, "bronze", "a", at, at, 7L, "Success", ""),
    EtlLogEntry(2L, "silver", "b", at, null, -1L, "Failed", null))

  test("rows already on the driver commit without a Spark job, as Spark writes them") {
    val wh = freshWh()
    val (_, jobs) = JobCounting.countJobs(spark.sparkContext)(
      wh.append(entries.toDF(), "audit", "etl_log"))
    assert(jobs === 0)
    // a rename over the local rows is still on the driver
    val (_, renamedJobs) = JobCounting.countJobs(spark.sparkContext)(
      wh.append(Seq(("t", at)).toDF("table_name", "last_load"), "audit", "watermarks"))
    assert(renamedJobs === 0)
    assert(wh.read(spark, "audit", "watermarks").as[(String, Timestamp)].collect() ===
      Array(("t", at)))
    val Seq(driverFile) = committed(wh, "audit", "etl_log")
    val sparkDir = org.apache.spark.ScratchDirs.create("graft_whspec_spark").resolve("t")
    val sparkFile = sparkWritten(entries.toDF(), sparkDir).head
    val (d, s) = (footer(driverFile), footer(sparkFile))
    assert(d.getSchema === s.getSchema)
    def tsType(m: FileMetaData) =
      m.getSchema.getType(m.getSchema.getFieldIndex("start_time")).asPrimitiveType
        .getPrimitiveTypeName
    assert(tsType(d) === tsType(s))
    assert(d.getKeyValueMetaData === s.getKeyValueMetaData)
    assert(d.getKeyValueMetaData.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    assert(driverFile.getFileName.toString.endsWith(".snappy.parquet"))
    // the same rows back, through the manifest and through a plain read
    val back = wh.read(spark, "audit", "etl_log").as[EtlLogEntry].collect().toSet
    assert(back === entries.toSet)
    assert(spark.read.parquet(sparkDir.toString).as[EtlLogEntry].collect().toSet === back)
    // no Hadoop success marker beside either kind of write
    wh.append(spark.range(1).select(lit(1L).as("v")), "gold", "marker")
    for (t <- Seq("audit" -> "etl_log", "gold" -> "marker"))
      assert(WarehouseTestKit.unreferenced(wh, t._1, t._2).isEmpty, t)
  }

  test("a table holding files of both write paths reads back every row") {
    val wh = freshWh()
    wh.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "gold", "mixed")
    wh.append(spark.range(3, 6).select(col("id").as("k"), lit("s").as("v")),
      "gold", "mixed")
    // renamed, then reordered: a projection of the local rows
    wh.append(Seq((null: String, 9L)).toDF("v", "k").select("k", "v"), "gold", "mixed")
    assert(wh.read(spark, "gold", "mixed").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "s"), (4L, "s"), (5L, "s"), (9L, null)))
  }

  test("an empty local frame commits a readable table with its schema") {
    val wh = freshWh()
    val empty = Seq.empty[EtlLogEntry].toDF()
    assert(JobCounting.countJobs(spark.sparkContext)(
      wh.overwrite(empty, "audit", "etl_log"))._2 === 0)
    val t = wh.read(spark, "audit", "etl_log")
    assert(t.count() === 0L)
    assert(t.schema.map(f => f.name -> f.dataType) ===
      Schemas.declared(("audit", "etl_log")).map(f => f.name -> f.dataType))
    // one file carrying the schema, as Spark's writer leaves for no rows
    val sparkDir = org.apache.spark.ScratchDirs.create("graft_whspec_empty").resolve("t")
    val (files, sparkFiles) = (committed(wh, "audit", "etl_log"), sparkWritten(empty, sparkDir))
    assert(files.size === 1 && sparkFiles.size === 1)
    assert(footer(files.head).getSchema === footer(sparkFiles.head).getSchema)
    assert(spark.read.parquet(files.head.toString).schema.fieldNames ===
      empty.schema.fieldNames)
  }

  test("a local write that differs from its declared schema is rejected") {
    val wh = freshWh()
    val e = intercept[IllegalArgumentException](
      wh.append(Seq((1L, "x")).toDF("batch_id", "layer"), "audit", "etl_log"))
    assert(e.getMessage.contains("differs from its declaration"))
    assert(!wh.exists("audit", "etl_log"))
  }

  test("repeated swaps of a many-partition table do not leak directory fds") {
    // vacuum walks and deletes every superseded version's partition
    // directories; an unclosed directory stream leaks one fd per
    // directory (the r13 20-epoch ingest probe died with "Too many open
    // files" at its third fold when deletes leaked). The fd count is
    // read from /proc/self/fd (Linux is this build's target).
    def fds(): Int = {
      val s = Files.list(Paths.get("/proc/self/fd"))
      try s.count().toInt finally s.close()
    }
    val wh = freshWh()
    val df = spark.range(0, 400, 1, 4)
      .select(col("id"), (col("id") % 200).as("p"))
    wh.overwritePartitioned(df, "gold", "fdleak", Seq("p"))
    def rewrite(): Unit = {
      wh.overwritePartitioned(wh.read(spark, "gold", "fdleak"),
        "gold", "fdleak", Seq("p"))
      wh.vacuum(WarehouseTestKit.afterRetention)
    }
    rewrite() // settle lazily-opened JVM/Spark fds
    val fd0 = fds()
    (1 to 3).foreach(_ => rewrite())
    assert(fds() - fd0 < 150,
      s"open fds grew from $fd0 to ${fds()} across 3 partitioned rewrites")
    assert(wh.read(spark, "gold", "fdleak").count() === 400L)
    assert(WarehouseTestKit.unreferenced(wh, "gold", "fdleak").isEmpty)
  }
}
