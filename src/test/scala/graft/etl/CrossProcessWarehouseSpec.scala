package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The TWO-JVM warehouse story: a child JVM ([[WarehouseReaderProcess]])
  * reads the warehouse in a tight loop while this JVM commits to it
  * continuously — a Verify run concurrent with an ingest driver on the
  * same root. Contract pinned:
  *   - every child read pins ONE committed version and is consistent
  *     with it (one table version, or one group generation across every
  *     member — the child exits 2 otherwise);
  *   - no child read fails (exit 4, each failure's cause printed): a
  *     pinned version's files outlive the commits that supersede it;
  *   - the writer never waits for the reader, and its commits leave no
  *     temp manifest behind; the final state is readable and consistent.
  */
class CrossProcessWarehouseSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  // version v = exactly v rows, every row carrying v — a reader that
  // mixed two versions' files sees either a wrong count or two values
  private def versionDf(v: Long) =
    spark.range(v).select(lit(v).as("v"))

  /** Launch the second-JVM reader; returns (process, log-text reader). */
  private def launchReader(root: String, tableSpec: String, iters: Int,
                           group: Option[String] = None)
      : (Process, () => String) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val childDir = org.apache.spark.ScratchDirs.create("graft_xproc_wd").toFile
    val log = new java.io.File(childDir, "child.log")
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.etl.WarehouseReaderProcess", root, "gold", tableSpec,
      iters.toString) ++ group.toSeq)
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(childDir)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    (pb.start(), () => new String(Files.readAllBytes(log.toPath), "UTF-8"))
  }

  private def awaitReady(p: Process, logText: () => String): Unit = {
    // wait for the child's session before committing, so the commits
    // overlap the READS, not the JVM boot
    val readyBy = System.currentTimeMillis() + 180000
    while (!logText().contains("READY") && p.isAlive &&
           System.currentTimeMillis() < readyBy) Thread.sleep(200)
    assert(logText().contains("READY"),
      s"reader never became READY:\n${logText()}")
  }

  /** Waits for the reader and checks its verdict: every read succeeded
    * and was consistent with the one version it pinned. */
  private def readerVerdict(p: Process, logText: () => String,
                            iters: Int): Int = {
    assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
      "reader did not finish")
    assert(p.exitValue() == 0,
      s"reader exit ${p.exitValue()} (2 = MIXED read, 3 = no read " +
      s"succeeded, 4 = a read failed):\n${logText()}")
    val m = "READER ok=(\\d+) versions=(\\d+)".r.findFirstMatchIn(logText())
    assert(m.nonEmpty, s"no READER summary:\n${logText()}")
    assert(m.get.group(1).toInt === iters, logText())
    m.get.group(2).toInt
  }

  private def noTempManifests(wh: Warehouse, owner: String): Unit = {
    val s = Files.list(Paths.get(wh.path("gold", owner), "_log"))
    val left = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".")).toList finally s.close()
    assert(left.isEmpty, s"temp manifests left behind: $left")
  }

  test("second-JVM reader across continuous swaps: consistent reads, no stranded swap state") {
    val root = org.apache.spark.ScratchDirs.create("graft_xproc").toString
    val wh = Warehouse(root)
    wh.overwrite(versionDf(5L), "gold", "t")
    val (p, logText) = launchReader(root, "t", 200)
    try {
      awaitReady(p, logText)
      // overwrite continuously until the reader finishes its 200 reads —
      // bounded by wall clock too, so a reader stalled by machine load
      // can't drive thousands of commits
      var v = 5L
      val deadline = System.currentTimeMillis() + 120000
      while (p.isAlive && v < 5000L && System.currentTimeMillis() < deadline) {
        v += 1
        wh.overwrite(versionDf(v), "gold", "t")
      }
      readerVerdict(p, logText, 200)
      assert(v > 6L, "writer never committed during the read window")
      noTempManifests(wh, "t")
      val rows = wh.read(spark, "gold", "t")
        .select("v").as[Long].collect()
      assert(rows.distinct.length == 1 && rows.length == rows.head.toInt)
      assert(rows.head === v)
    } finally {
      if (p.isAlive) p.destroyForcibly()
    }
  }

  test("second-JVM reader across a live ingest's group promotions + epoch appends: no mixed-generation group reads") {
    // The INGEST-side two-process story: the writer drives the group
    // commits a standing index makes (every member rewritten as one
    // version, the generation `g` stamped into every row) while ALSO
    // appending epoch partitions continuously — the live ingest driver's
    // full write mix — and the child reads the whole group
    // (meta+bands+sets analog) from one pinned version per read.
    val root = org.apache.spark.ScratchDirs.create("graft_xprocg").toString
    val wh = Warehouse(root)
    val tables = Seq("g_m", "g_b", "g_s")
    def rebuild(g: Long): Unit =
      wh.commit("gold", "g",
        Warehouse.Write("g_m", Seq(g).toDF("g")) +:
        Seq("g_b", "g_s").map(t => Warehouse.Write(t,
          spark.range(20).select(lit(g).as("g"), lit(-1L).as("epoch")),
          partCols = Seq("epoch"))): _*)
    rebuild(1L)
    val (p, logText) = launchReader(root, tables.mkString(","), 80,
      group = Some("g"))
    try {
      awaitReady(p, logText)
      // epoch appends carrying the CURRENT generation, and a group
      // rebuild every third epoch — never waiting for the reader.
      // Bounded by wall clock, and by an epoch cap that bounds the
      // manifest's file count.
      var g = 1L
      var e = 0L
      val deadline = System.currentTimeMillis() + 120000
      while (p.isAlive && e < 300L && System.currentTimeMillis() < deadline) {
        e += 1
        wh.commit("gold", "g", Seq("g_b", "g_s").map(t => Warehouse.Write(t,
          spark.range(5).select(lit(g).as("g"), lit(e).as("epoch")),
          Warehouse.Append, Seq("epoch"))): _*)
        if (e % 3 == 0) { g += 1; rebuild(g) }
      }
      readerVerdict(p, logText, 80)
      assert(g > 2L, "writer never rebuilt during the read window")
      noTempManifests(wh, "g")
      // final group consistent from this JVM too
      val snap = wh.snapshot("gold", "g")
      val gs = tables.flatMap(t => snap.read(spark, t)
        .select("g").as[Long].collect())
      assert(gs.distinct === Seq(g))
    } finally {
      if (p.isAlive) p.destroyForcibly()
    }
  }
}
