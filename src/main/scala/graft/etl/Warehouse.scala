package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Warehouse path layout + atomic table writes over plain Parquet.
  *
  * Layers are directories (`<root>/bronze|silver|gold|audit/<table>`),
  * the Spark analog of the reference's schemas (`init_database.sql:37-51`).
  *
  * Parquet has no transactional MERGE/DELETE (no Delta/Iceberg jars in this
  * build), so every mutation is a functional rebuild + [[overwrite]]:
  * write to `<table>._tmp`, then swap directories. Readers-of-own-input
  * rebuilds (SCD merges read the table they replace) MUST go through
  * [[rebuild]], which materializes the new content before the swap —
  * otherwise the lazy plan would scan a half-deleted input at action time.
  * At cluster scale the same contract holds with an object-store rename.
  */
final case class Warehouse(root: String) {

  def path(layer: String, table: String): String = s"$root/$layer/$table"

  /** Read a table. A table with a declared schema ([[Schemas.declared]])
    * is opened with that schema, so planning is a driver-side file
    * listing and submits no Spark job; any other table's schema is
    * inferred from a Parquet footer, which costs one job. Holds the
    * table's rename lock across PLAN construction (listing, plus footer
    * inference when undeclared), so planning can never observe
    * [[swapIn]]'s mid-rename window; recovery of a genuinely crashed
    * swap happens under the same lock. Execution of the returned frame
    * is outside the lock — a concurrent swap completing before the
    * action can still fail it LOUDLY (never partially), the
    * plain-parquet snapshot limitation a manifest table format lifts. */
  def read(spark: SparkSession, layer: String, table: String): DataFrame =
    Warehouse.locked(path(layer, table)) {
      recoverLocked(Paths.get(path(layer, table)),
        Paths.get(path(layer, table + "._old")))
      val reader = Schemas.declared.get((layer, table))
        .fold(spark.read)(spark.read.schema(_))
      reader.parquet(path(layer, table))
    }

  def exists(layer: String, table: String): Boolean =
    Files.exists(Paths.get(path(layer, table)))

  /** Truncate-and-load (S2): plain overwrite, no self-read involved. */
  def overwrite(df: DataFrame, layer: String, table: String): Unit =
    df.write.mode("overwrite").parquet(path(layer, table))

  /** Partitioned overwrite for the year-partitioned fact
    * (ddl_gold.sql:78-103 → `partitionBy`, giving Catalyst partition
    * pruning on year predicates). */
  def overwritePartitioned(df: DataFrame, layer: String, table: String,
                           partCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(path(layer, table))

  def append(df: DataFrame, layer: String, table: String): Unit =
    df.write.mode("append").parquet(path(layer, table))

  /** Partitioned append — new rows land in their partition directories
    * without touching existing files (the index-maintenance primitive:
    * ingest survivors join a persisted index in place). */
  def appendPartitioned(df: DataFrame, layer: String, table: String,
                        partCols: Seq[String],
                        options: Map[String, String] = Map.empty): Unit =
    df.write.mode("append").options(options).partitionBy(partCols: _*)
      .parquet(path(layer, table))

  /** Idempotent partitioned append via DYNAMIC partition overwrite: only
    * the partitions present in `df` are replaced, everything else is
    * untouched — so a replayed write of the same keyed data (an epoch
    * retry) overwrites its own partitions instead of double-appending.
    * [[graft.streaming.EventStream.exactlyOnceBatchWriter]]'s discipline
    * as a warehouse primitive; the caller keys `partCols` by the replay
    * unit (e.g. an `epoch` column). */
  def overwritePartitionsDynamic(df: DataFrame, layer: String,
                                 table: String, partCols: Seq[String],
                                 options: Map[String, String] = Map.empty): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .options(options)
      .partitionBy(partCols: _*)
      .parquet(path(layer, table))

  /** Compaction — the columnstore REORGANIZE analog
    * (proc_load_silver.sql:277-283): rewrite a table into `targetFiles`
    * files so accumulating small appends don't degrade scan parallelism
    * (at cluster scale: size files to ~HDFS-block units). */
  def compact(spark: SparkSession, layer: String, table: String,
              targetFiles: Int): Unit =
    rebuild(read(spark, layer, table).coalesce(targetFiles), layer, table)

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
    rebuild(read(spark, layer, table)
      .repartition(targetFiles, cols: _*)
      .sortWithinPartitions(cols: _*), layer, table)
  }

  /** Atomic rebuild of a table whose new content is derived from its own
    * current content: materialize to a tmp dir, swap, drop the old copy. */
  def rebuild(df: DataFrame, layer: String, table: String): Unit = {
    val tmp = Paths.get(path(layer, table + "._tmp"))
    df.write.mode("overwrite").parquet(tmp.toString)
    swapIn(layer, table, tmp)
  }

  /** [[rebuild]] preserving a partition layout — the compaction path
    * for partitioned-append tables (persisted indexes): rewrite into
    * the same `partitionBy` directories, then swap atomically. */
  def rebuildPartitioned(df: DataFrame, layer: String, table: String,
                         partCols: Seq[String],
                         options: Map[String, String] = Map.empty): Unit = {
    val tmp = Paths.get(path(layer, table + "._tmp"))
    df.write.mode("overwrite").options(options).partitionBy(partCols: _*)
      .parquet(tmp.toString)
    swapIn(layer, table, tmp)
  }

  /** Swap a fully-written tmp dir into place: rename the live table
    * aside, rename tmp in, then delete the old copy. The no-table window
    * is a single rename (old→aside ↔ tmp→live), not the delete-then-move
    * gap the naive form had (r9 ADVICE) — and a crash INSIDE that window
    * is recoverable, not just reclaimable: [[recoverIfCrashed]] (run on
    * every read and on swap entry) restores `._old` to the live path
    * whenever the live table is missing, so a restart after a mid-swap
    * crash reads the pre-swap content instead of failing (r10 ADVICE).
    * `._old` is only deleted after tmp→live succeeded.
    *
    * Swap and recovery SERIALIZE per table path ([[Warehouse.locked]]):
    * without it, a read landing inside the rename window would restore
    * `._old` onto the live path and make this swap's second move throw,
    * stranding `._tmp` (r11 ADVICE) — reachable in production, since
    * the ingest loop compacts the same index concurrent probes read.
    * The lock covers every reader/writer in this JVM (the driver is
    * where all table-level renames happen); a cross-PROCESS reader in
    * the same window is additionally tolerated by the retry below. */
  private def swapIn(layer: String, table: String,
                     tmp: java.nio.file.Path): Unit =
    Warehouse.locked(path(layer, table)) {
      val target = Paths.get(path(layer, table))
      val old = Paths.get(path(layer, table + "._old"))
      recoverLocked(target, old)
      // any ._old still present is stale (its swap completed: the live
      // table exists) — reclaim before taking its name
      if (Files.exists(old)) deleteRecursively(old)
      if (Files.exists(target))
        Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      // a cross-process reader can restore ._old onto the live path
      // between our two renames: take the restored copy aside again
      // (._old is free — the reader consumed it) and retry. BOUNDED
      // LOOP, not one-shot: a descheduled writer thread on a loaded
      // machine stretches both rename windows to milliseconds, long
      // enough for the reader to restore inside the retry too (the
      // r15 CrossProcessWarehouseSpec flake — the second move threw
      // out of the promotion).
      var attempts = 0
      var done = false
      while (!done) {
        try { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); done = true }
        catch {
          case e: java.nio.file.FileSystemException =>
            attempts += 1
            if (!Files.exists(target) || attempts > 50) throw e
            if (Files.exists(old)) deleteRecursively(old)
            Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
        }
      }
      if (Files.exists(old)) deleteRecursively(old)
    }

  /** Crash recovery for [[swapIn]]'s single-rename window: a live table
    * that vanished while its `._old` copy survives means a swap died
    * between the two renames — restore the old copy. One existence
    * check per read; at cluster scale the same contract holds with
    * object-store list/rename. Takes the same per-table lock as
    * [[swapIn]], so a read can never observe (or interfere with) the
    * mid-swap window of a swap in this JVM; two concurrent recoverers
    * of a genuine crash are serialized the same way. */
  private def recoverIfCrashed(layer: String, table: String): Unit =
    Warehouse.locked(path(layer, table)) {
      recoverLocked(Paths.get(path(layer, table)),
        Paths.get(path(layer, table + "._old")))
    }

  /** The recovery body — caller must hold the table lock. Tolerant to a
    * cross-process racer completing the swap (or the recovery) first:
    * if the restore rename fails but the live table now exists, the
    * table IS recovered — treat it as such instead of propagating. */
  private def recoverLocked(target: java.nio.file.Path,
                            old: java.nio.file.Path): Unit =
    if (!Files.exists(target) && Files.exists(old))
      try Files.move(old, target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          if (!Files.exists(target)) throw e
      }

  // ------------------------------------------- multi-table atomic swaps
  //
  // A derived-index REBUILD often spans several tables that must change
  // together (the posting index's _meta/_freq/_post/_sets). Each table's
  // swap is atomic, but four sequential overwrites are not: a crash
  // between them leaves a new dictionary over old postings — a silently
  // mixed index (r11 ADVICE). The protocol here makes the group
  // resumable: stage every table to `._tmp`, drop a PENDING marker,
  // swap each staged table in, delete the marker. A crash at any point
  // replays safely — [[resumePending]] (run by readers before trusting
  // the group) finishes any staged-but-unswapped tables, so the visible
  // state is always either all-old (marker + all tmps intact) or
  // all-new (marker gone, or every tmp already consumed).

  private def markerPath(layer: String, marker: String) =
    Paths.get(path(layer, marker + "._pending"))

  /** Stage a table's new content to `<table>._tmp` WITHOUT swapping it
    * live — the first half of [[rebuildPartitioned]], for multi-table
    * groups that must promote together ([[promoteStaged]]). */
  def stagePartitioned(df: DataFrame, layer: String, table: String,
                       partCols: Seq[String],
                       options: Map[String, String] = Map.empty): Unit =
    df.write.mode("overwrite").options(options).partitionBy(partCols: _*)
      .parquet(path(layer, table + "._tmp"))

  /** Unpartitioned [[stagePartitioned]]. */
  def stage(df: DataFrame, layer: String, table: String): Unit =
    df.write.mode("overwrite").parquet(path(layer, table + "._tmp"))

  /** Swap a previously [[stage]]d table live (no-op if its `._tmp` was
    * already consumed — what makes a replayed group promotion safe).
    * The exists-check and the swap share the table lock (reentrant), so
    * two concurrent promoters can't both consume one tmp. */
  def promoteStaged(layer: String, table: String): Unit =
    Warehouse.locked(path(layer, table)) {
      val tmp = Paths.get(path(layer, table + "._tmp"))
      if (Files.exists(tmp)) swapIn(layer, table, tmp)
    }

  /** Promote a STAGED GROUP atomically-by-protocol: marker down, each
    * staged table swapped in (each swap itself atomic), group-version
    * stamp bumped, marker up. The `marker` names the group
    * (conventionally the index's base table); tables promote in the
    * given order. Group promotions/resumes serialize on the marker
    * path (group lock taken before any table lock — the one ordering
    * everywhere, so no deadlock with plain readers, which take only
    * table locks).
    *
    * The version stamp ([[groupVersion]]) is bumped INSIDE the marker
    * window — strictly after every table swap, strictly before the
    * marker clears — so a cross-process reader spanning any part of a
    * promotion observes the marker at one of its endpoints OR a stamp
    * change ([[readGroupConsistent]]); a crash before the bump leaves
    * the marker, which the resume path clears after re-bumping. A
    * resume may double-bump a completed promotion: the stamp is an
    * opaque change detector, not a generation count. */
  def promoteStagedGroup(layer: String, marker: String,
                         tables: Seq[String]): Unit =
    Warehouse.locked(markerPath(layer, marker).toString) {
      val m = markerPath(layer, marker)
      Files.createDirectories(m.getParent)
      if (!Files.exists(m)) Files.createFile(m)
      tables.foreach(promoteStaged(layer, _))
      bumpGroupVersion(layer, marker)
      Files.deleteIfExists(m)
    }

  private def gverPath(layer: String, marker: String) =
    Paths.get(path(layer, marker + "._gver"))

  /** The group's promotion stamp: 0 before any stamped promotion.
    * Reads race the stamp's atomic-rename replace safely (old or new,
    * never torn). */
  def groupVersion(layer: String, marker: String): Long = {
    val p = gverPath(layer, marker)
    try {
      if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8").trim.toLong
      else 0L
    } catch {
      // a reader racing the replace rename on a filesystem without
      // atomic visibility, or a torn manual edit: treat as "changed"
      case _: Throwable => -1L
    }
  }

  private def bumpGroupVersion(layer: String, marker: String): Unit = {
    val p = gverPath(layer, marker)
    val tmp = Paths.get(p.toString + "._tmp")
    Files.writeString(tmp, (groupVersion(layer, marker).max(0L) + 1L).toString)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Optimistic CROSS-PROCESS group read — the read-side half of the
    * staged-group protocol: a pure reader in another process (a Verify
    * or bench run against a live ingest driver's warehouse) must never
    * trust a multi-table read that overlapped a group promotion, and —
    * unlike [[resumePending]], which is the WRITER process's crash
    * recovery — must never write into a warehouse it doesn't own.
    * `read` runs (and must fully materialize its result) only when the
    * group is quiescent at entry; the result is kept only if the
    * marker is still absent and the promotion stamp unchanged at exit.
    * Returns None when a promotion raced the read — the caller retries,
    * exactly like the documented loud single-table snapshot failure. */
  def readGroupConsistent[A](layer: String, marker: String)(read: => A): Option[A] = {
    if (Files.exists(markerPath(layer, marker))) None
    else {
      val g1 = groupVersion(layer, marker)
      val a = read
      val g2 = groupVersion(layer, marker)
      if (g1 >= 0L && g1 == g2 && !Files.exists(markerPath(layer, marker)))
        Some(a)
      else None
    }
  }

  /** Finish a group promotion that crashed mid-way: if the marker is
    * present, swap in whatever `._tmp` stages remain and clear it.
    * Idempotent and safe against a completed group (every tmp consumed
    * → every promote is a no-op). Callers that read multi-table groups
    * invoke this first, so they can never observe a mixed group. */
  def resumePending(layer: String, marker: String,
                    tables: Seq[String]): Unit =
    Warehouse.locked(markerPath(layer, marker).toString) {
      if (Files.exists(markerPath(layer, marker)))
        promoteStagedGroup(layer, marker, tables)
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p)) {
      // Files.list holds an open directory fd until CLOSED — the lazy
      // stream must not ride on GC. Unclosed, a compaction deleting a
      // thousands-of-partition-dirs `._old` tree leaks one fd per dir
      // and dies with "Too many open files" (caught live by the r13
      // 20-epoch ingest probe at its third compaction).
      val s = Files.list(p)
      val kids = try s.iterator().asScala.toList finally s.close()
      kids.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}

object Warehouse {
  /** Per-table-path rename locks: table-level swap/recovery renames are
    * driver-side metadata operations, so a JVM-wide monitor per path is
    * the whole story on local[*] — and the cheap part of the contract
    * an object-store deployment would replace with conditional renames.
    * Keyed by the path string (Warehouse is a value class over `root`,
    * so two instances on one root share locks). */
  private val renameLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def locked[A](key: String)(body: => A): A =
    renameLocks.computeIfAbsent(key, _ => new Object).synchronized(body)
}
