package graft.etl

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths}
import scala.jdk.CollectionConverters._

/** Warehouse tables over plain Parquet, committed through numbered
  * manifests.
  *
  * Layers are directories (`<root>/bronze|silver|gold|audit/<table>`),
  * the Spark analog of the reference's schemas (`init_database.sql:37-51`).
  *
  * A table directory holds immutable data and a log. Every write puts its
  * files in a fresh `_c<uuid>/` directory (Spark's `k=v` partition
  * directories below it); nothing is renamed or deleted by a write. The
  * write becomes visible when a commit links `_log/<N+1>.json`: the
  * schema, partition columns and every live file (size and partition
  * values). The link is atomic and fails if version N+1 exists, so of two
  * writers exactly one wins; the loser re-reads the latest version and
  * re-applies its change to it without rewriting data. A read pins the
  * latest version (the highest number in `_log`) and plans from its file
  * list and schema: no data-directory listing, no footer inference, no
  * Spark job. Old files outlive the commit that supersedes them, so every
  * overwrite is atomic and safe to compute from the table it replaces,
  * and a reader keeps its snapshot until [[vacuum]] reclaims it. This is
  * the Delta Lake log design (Armbrust et al., VLDB 2020), for one
  * filesystem with atomic create-if-absent links.
  *
  * Rows that are already on the driver are written from the driver. An
  * unpartitioned write of a local relation (`Seq(...).toDF()`, perhaps
  * under column renames) is encoded by Spark's own Parquet writer in the
  * calling thread: no Spark job, the same file a write task would make.
  * That is every audit, DQ and watermark row the ETL logs ([[Audit]],
  * [[Watermark]]) and a standing index's `_meta` row. Every other write
  * is a Spark write job. Neither leaves a `_SUCCESS` marker: the
  * manifest is the commit.
  *
  * A TABLE GROUP is several tables that change together (a standing dedup
  * index: `_meta`, its key table, `_sets`, ...): one log at
  * `<layer>/<group>/_log` records every member, so a multi-table change is
  * one version and a reader of several members pins one version of all of
  * them ([[snapshot]]). A member is named `<group>_<suffix>`; [[read]],
  * [[exists]] and the single-table writes find its group by that prefix.
  */
final case class Warehouse(root: String) {
  import Warehouse._

  def path(layer: String, table: String): String = s"$root/$layer/$table"

  /** The latest committed version of the log holding `table` (a table, a
    * group, or a group member). */
  def snapshot(layer: String, table: String): Snapshot =
    resolve(layer, table).getOrElse(
      throw new NoSuchElementException(s"no table $layer/$table under $root"))

  def read(spark: SparkSession, layer: String, table: String): DataFrame =
    snapshot(layer, table).read(spark, table)

  def exists(layer: String, table: String): Boolean =
    resolve(layer, table).exists(_.tables.contains(table))

  /** Truncate-and-load: the table becomes exactly `df`. */
  def overwrite(df: DataFrame, layer: String, table: String): Unit =
    commitTable(layer, Write(table, df))

  /** Partitioned overwrite for the year-partitioned fact
    * (ddl_gold.sql:78-103 → `partitionBy`, giving Catalyst partition
    * pruning on year predicates). */
  def overwritePartitioned(df: DataFrame, layer: String, table: String,
                           partCols: Seq[String]): Unit =
    commitTable(layer, Write(table, df, Overwrite, partCols))

  /** Adds `df`'s rows; creates the table on its first write. */
  def append(df: DataFrame, layer: String, table: String): Unit =
    commitTable(layer, Write(table, df, Append))

  /** Partitioned append — new rows land in their partitions without
    * touching existing files (the index-maintenance primitive). */
  def appendPartitioned(df: DataFrame, layer: String, table: String,
                        partCols: Seq[String],
                        options: Map[String, String] = Map.empty): Unit =
    commitTable(layer, Write(table, df, Append, partCols, options))

  /** Idempotent partitioned append: the partitions present in `df` are
    * replaced, everything else is untouched — so a replayed write of the
    * same keyed data (an epoch retry) replaces its own partitions instead
    * of double-appending. The caller keys `partCols` by the replay unit
    * (e.g. an `epoch` column). */
  def overwritePartitionsDynamic(df: DataFrame, layer: String,
                                 table: String, partCols: Seq[String],
                                 options: Map[String, String] = Map.empty): Unit =
    commitTable(layer, Write(table, df, ReplacePartitions, partCols, options))

  /** Compaction — the columnstore REORGANIZE analog
    * (proc_load_silver.sql:277-283): rewrite a table into `targetFiles`
    * files so accumulating small appends don't degrade scan parallelism
    * (at cluster scale: size files to ~HDFS-block units). */
  def compact(spark: SparkSession, layer: String, table: String,
              targetFiles: Int): Unit =
    overwrite(read(spark, layer, table).coalesce(targetFiles), layer, table)

  /** Clustered compaction — the CLUSTERED COLUMNSTORE analog
    * (ddl_silver.sql:83-86): repartition on the cluster keys, sort rows
    * within each file by them, and rewrite. Parquet stores per-row-group
    * min/max stats, so point/range predicates on the cluster keys skip
    * whole row groups at scan time — data skipping without any table
    * format, and the co-partitioned layout doubles as a shuffle-free
    * input for downstream joins on the same keys. */
  def compactClustered(spark: SparkSession, layer: String, table: String,
                       targetFiles: Int, clusterCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = clusterCols.map(col)
    overwrite(read(spark, layer, table)
      .repartition(targetFiles, cols: _*)
      .sortWithinPartitions(cols: _*), layer, table)
  }

  /** One version of `group`'s log carrying every write: each write's
    * files are written concurrently ([[Steps.inParallel]] — so this must
    * not be called from inside a step), then one manifest records them
    * all. Members keep their other files and tables untouched. */
  def commit(layer: String, group: String, writes: Write*): Unit =
    commitTo(Paths.get(path(layer, group)), layer, writes)

  /** Reclaims what no reader can need: manifests superseded more than
    * [[Retention]] ago (never the latest), then every file under a table
    * that no remaining manifest references and that is older than
    * [[Retention]] — superseded data, data of writes that crashed before
    * their commit, and temp manifests of crashed commits. Manifests go
    * first, so a vacuum that stops half way leaves every remaining
    * version whole. `now` is the clock. */
  def vacuum(now: Long = System.currentTimeMillis()): Unit =
    for (layer <- children(Paths.get(root)); owner <- children(layer)
         if Files.isDirectory(owner.resolve(Log))) {
      val log = owner.resolve(Log)
      val vs = versions(log)
      val retained = vs.zip(vs.drop(1)).collect {
        case (v, next) if now - mtime(manifest(log, next)) < Retention => v
      } ++ vs.lastOption
      vs.filterNot(retained.contains).foreach(v => Files.deleteIfExists(manifest(log, v)))
      val s = Files.walk(owner)
      // children before parents, so emptied directories go too
      val old = try s.iterator().asScala.filter(p => now - mtime(p) >= Retention)
        .toList.reverse finally s.close()
      lazy val live = retained.flatMap(v => load(owner, v).tables.values)
        .flatMap(_.files.map(f => owner.resolve(f.path))).toSet
      old.foreach { p =>
        val n = p.getFileName.toString
        // a checksum file lives and dies with its data file
        val data = if (n.startsWith(".") && n.endsWith(".crc"))
          p.resolveSibling(n.stripPrefix(".").stripSuffix(".crc")) else p
        if (Files.isRegularFile(p)) {
          if (if (p.getParent == log) !VersionFile.matches(n) else !live(data))
            Files.delete(p)
        } else if (p != owner && p != log && children(p).isEmpty) Files.delete(p)
      }
    }

  /** Writes one table's change, in its group's log if it has one. */
  private def commitTable(layer: String, w: Write): Unit =
    commitTo(resolve(layer, w.table).fold(Paths.get(path(layer, w.table)))(_.dir),
      layer, Seq(w))

  private def commitTo(owner: Path, layer: String, writes: Seq[Write]): Unit = {
    val written = new Array[TableFiles](writes.size)
    if (writes.size == 1) written(0) = writeFiles(owner, layer, writes.head)
    else Steps.inParallel(writes.head.df.sparkSession)(writes.indices.map(i =>
      () => written(i) = writeFiles(owner, layer, writes(i))): _*)
    val log = owner.resolve(Log)
    Files.createDirectories(log)
    var committed = false
    while (!committed) {
      val cur = latest(owner)
      val tables = writes.zip(written).foldLeft(cur.fold(Map.empty[String, TableFiles])(_.tables)) {
        case (ts, (w, t)) => ts.updated(w.table, applied(ts.get(w.table), w, t))
      }
      val tmp = Files.createTempFile(log, ".", ".tmp")
      try {
        Files.writeString(tmp, toJson(tables))
        Files.createLink(manifest(log, cur.fold(0L)(_.version + 1)), tmp)
        committed = true
      } catch { case _: FileAlreadyExistsException => () } // lost the race: re-apply
      finally Files.delete(tmp)
    }
  }

  /** Writes `w`'s rows to a fresh data directory of `owner` and lists
    * what the write produced. */
  private def writeFiles(owner: Path, layer: String, w: Write): TableFiles = {
    val schema = nullable(w.df.schema).asInstanceOf[StructType]
    Schemas.declared.get((layer, w.table)).foreach(d =>
      require(sameColumns(d, schema),
        s"$layer.${w.table}: written schema ${schema.simpleString} differs " +
        s"from its declaration ${d.simpleString}"))
    val out = owner.resolve("_c" + java.util.UUID.randomUUID())
    localRows(w.df.queryExecution.analyzed) match {
      case Some(rows) if w.partCols.isEmpty =>
        writeOnDriver(w.df.sparkSession, rows, w.df.schema, w.options, out)
      case _ =>
        w.df.write.options(NoSuccessMarker ++ w.options).partitionBy(w.partCols: _*)
          .parquet(out.toString)
    }
    val s = Files.walk(out)
    val files = try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.toList finally s.close()
    TableFiles(schema, w.partCols, files.map { p =>
      val kv = out.relativize(p).iterator().asScala.toList.init.map { seg =>
        val Array(k, v) = seg.toString.split("=", 2)
        ExternalCatalogUtils.unescapePathName(k) ->
          (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
           else ExternalCatalogUtils.unescapePathName(v))
      }.toMap
      DataFile(owner.relativize(p).toString, Files.size(p), w.partCols.map(kv))
    })
  }

  /** The latest version of the log holding `name`: its own (a table or a
    * group), else that of the longest `_`-prefix group that has it as a
    * member. */
  private def resolve(layer: String, name: String): Option[Snapshot] =
    latest(Paths.get(path(layer, name))).orElse(
      name.indices.reverse.filter(name(_) == '_').iterator
        .flatMap(i => latest(Paths.get(path(layer, name.take(i)))))
        .find(_.tables.contains(name)))
}

object Warehouse {
  /** How long a superseded version, and data no manifest references,
    * stay readable before [[Warehouse.vacuum]] may delete them. */
  val Retention: Long = 60L * 60 * 1000

  /** How a write changes its table: [[Overwrite]] — the table becomes
    * exactly the write; [[Append]] — the write's files join the table's;
    * [[ReplacePartitions]] — the partitions the write covers are replaced
    * by its files. */
  sealed trait Mode
  case object Overwrite extends Mode
  case object Append extends Mode
  case object ReplacePartitions extends Mode

  /** The Hadoop committer's `_SUCCESS` file: no manifest reads it. */
  private val NoSuccessMarker =
    Map("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** The rows of a frame that is already on the driver, in its column
    * order: a local relation (`Seq(...).toDF()`), perhaps under column
    * renames (`toDF("a", "b")`). */
  private def localRows(plan: LogicalPlan): Option[Seq[InternalRow]] = plan match {
    case l: LocalRelation => Some(l.data)
    case Project(list, child) =>
      val ordinals = list.map {
        case a: Attribute => child.output.indexWhere(_.exprId == a.exprId)
        case Alias(a: Attribute, _) => child.output.indexWhere(_.exprId == a.exprId)
        case _ => -1
      }
      val types = child.output.map(_.dataType)
      if (ordinals.contains(-1)) None
      else localRows(child).map(_.map(r =>
        InternalRow.fromSeq(ordinals.map(i => r.get(i, types(i))))))
    case _ => None
  }

  /** Writes `rows` to one Parquet file in `out` without a Spark job:
    * the driver encodes them with the writer a Spark write task uses,
    * set up as a Spark write sets it up, so the file (schema, physical
    * types, Spark's row metadata) is the one a task would write. No rows
    * still make a file, which carries the schema, as Spark's writer
    * does. */
  private def writeOnDriver(spark: SparkSession, rows: Seq[InternalRow],
                            schema: StructType, options: Map[String, String],
                            out: Path): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(session, job, options, schema)
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("driver", 0, TaskType.MAP, 0, 0))
    Files.createDirectories(out)
    val file = out.resolve(
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(task)}")
    val writer = factory.newInstance(file.toString, schema, task)
    try rows.foreach(writer.write) finally writer.close()
  }

  /** `old` after write `w`, whose new files are `t`. */
  private def applied(old: Option[TableFiles], w: Write, t: TableFiles): TableFiles =
    old match {
      case Some(o) if w.mode != Overwrite =>
        require(o.partCols == t.partCols && sameColumns(o.schema, t.schema),
          s"${w.table}: cannot add ${t.schema.simpleString} by ${t.partCols} " +
          s"to ${o.schema.simpleString} by ${o.partCols}")
        val covered =
          if (w.mode == Append) Set.empty[Seq[String]] else t.files.map(_.partition).toSet
        o.copy(files = o.files.filterNot(f => covered(f.partition)) ++ t.files)
      case _ => t
    }

  /** One table's part of a [[Warehouse.commit]]. */
  final case class Write(table: String, df: DataFrame, mode: Mode = Overwrite,
                         partCols: Seq[String] = Nil,
                         options: Map[String, String] = Map.empty)

  /** A live data file: its path relative to the table (or group)
    * directory, its size, and its values of the partition columns in
    * their order (null for a null partition). */
  final case class DataFile(path: String, size: Long, partition: Seq[String])

  /** One table as a manifest records it. */
  final case class TableFiles(schema: StructType, partCols: Seq[String],
                              files: Seq[DataFile])

  /** One committed version of a log: every table it holds. */
  final case class Snapshot(dir: Path, version: Long,
                            tables: Map[String, TableFiles]) {
    /** `table` as of this version; planning submits no Spark job. */
    def read(spark: SparkSession, table: String): DataFrame = {
      val t = tables.getOrElse(table, throw new NoSuchElementException(
        s"no table $table in version $version of $dir"))
      val part = StructType(t.partCols.map(t.schema(_)))
      val data = StructType(t.schema.filterNot(f => t.partCols.contains(f.name)))
      spark.baseRelationToDataFrame(HadoopFsRelation(
        new ManifestIndex(spark, dir, part, t.files), part, data, None,
        new ParquetFileFormat, Map.empty)(spark))
    }
  }

  /** The files of one table version as Spark's scan sees them: partition
    * pruning evaluates the scan's partition filters against each
    * partition's recorded values, so `PartitionFilters` prune exactly as
    * for a listed directory, without listing one. */
  private final class ManifestIndex(spark: SparkSession, dir: Path,
      val partitionSchema: StructType, files: Seq[DataFile]) extends FileIndex {
    private lazy val partitions: Seq[PartitionDirectory] = {
      val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
      val byPart = files.groupBy(_.partition)
      files.map(_.partition).distinct.map { vs =>
        val values = partitionSchema.fields.toSeq.zip(vs).map { case (f, v) =>
          if (v == null) null else Cast(Literal(v), f.dataType, tz).eval()
        }
        PartitionDirectory(InternalRow.fromSeq(values), byPart(vs).map(f =>
          FileStatusWithMetadata(new FileStatus(f.size, false, 1, f.size, 0L,
            new HPath(dir.resolve(f.path).toString)))))
      }
    }
    def rootPaths: Seq[HPath] = Seq(new HPath(dir.toString))
    def listFiles(partitionFilters: Seq[Expression],
                  dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty) partitions
      else {
        val keep = Predicate.createInterpreted(partitionFilters.reduce(And)
          .transform { case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        keep.initialize(0)
        partitions.filter(p => keep.eval(p.values))
      }
    def inputFiles: Array[String] =
      files.map(f => dir.resolve(f.path).toUri.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.size).sum
  }

  private val Log = "_log"
  private val VersionFile = "\\d+\\.json".r

  private def manifest(log: Path, v: Long): Path = log.resolve(s"$v.json")

  private def children(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator().asScala.toList finally s.close() }

  private def mtime(p: Path): Long = Files.getLastModifiedTime(p).toMillis

  private def versions(log: Path): List[Long] =
    children(log).map(_.getFileName.toString)
      .collect { case n if VersionFile.matches(n) => n.stripSuffix(".json").toLong }
      .sorted

  /** The latest version of `owner`'s log. A version can only disappear
    * under a newer one ([[Warehouse.vacuum]] keeps the latest), so a
    * vanished file means: look again. */
  private def latest(owner: Path): Option[Snapshot] =
    versions(owner.resolve(Log)).lastOption.flatMap { v =>
      try Some(load(owner, v)) catch { case _: NoSuchFileException => latest(owner) }
    }

  /** A manifest as stored: each table's schema as `StructType.json`. */
  private final case class Manifest(tables: Map[String, StoredTable])
  private final case class StoredTable(schema: String, partCols: Seq[String],
                                       files: Seq[DataFile])
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def load(owner: Path, v: Long): Snapshot = {
    val m = json.readValue(Files.readString(manifest(owner.resolve(Log), v)),
      classOf[Manifest])
    Snapshot(owner, v, m.tables.map { case (name, t) => name -> TableFiles(
      DataType.fromJson(t.schema).asInstanceOf[StructType], t.partCols, t.files) })
  }

  private def toJson(tables: Map[String, TableFiles]): String =
    json.writeValueAsString(Manifest(tables.map { case (name, t) =>
      name -> StoredTable(t.schema.json, t.partCols, t.files) }))

  /** `dt` as a Parquet read returns it: every field, element and value
    * nullable. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Same column names and types, in any order, nullability aside. */
  private def sameColumns(a: StructType, b: StructType): Boolean = {
    def cols(s: StructType) = s.fields.map(f => f.name -> nullable(f.dataType)).toMap
    cols(a) == cols(b)
  }
}
