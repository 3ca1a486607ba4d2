package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.etl.TestSessions

/** Streaming results must agree with their batch twins over the same
  * files — the file source replays sf0.001 events as a bounded stream.
  */
class EventStreamSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark

  /** The streaming file source wants a directory; testdata ships a single
    * parquet file — stage it into one. */
  private lazy val dir: String = {
    val d = org.apache.spark.ScratchDirs.create("graft_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("windowed streaming aggregation matches the batch equivalent") {
    val stream = EventStream.readEvents(spark, dir)
    EventStream.runToMemory(
      EventStream.windowedCounts(stream), "win_out", OutputMode.Append())
    val got = spark.table("win_out")
      .select("window_start", "event_type", "n_events")
    val batch = graft.Tables.loadEvents(spark, dir)
      .select(timestamp_micros(expr("ts div 1000")).as("event_time"),
              col("event_type"))
      .groupBy(date_trunc("hour", col("event_time")).as("window_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    // Append mode holds back windows the final watermark hasn't passed —
    // every emitted window must match batch exactly, and most must emit.
    val joined = got.alias("g").join(batch.alias("b"),
      Seq("window_start", "event_type"))
    assert(got.count() > 0)
    assert(joined.filter(col("g.n_events") =!= col("b.n_events")).count() === 0)
    assert(joined.count() === got.count()) // no streaming-only windows
  }

  test("streaming session windows match the batch session_window result") {
    EventStream.runToMemory(
      EventStream.sessionCounts(EventStream.readEvents(spark, dir)),
      "sess_out", OutputMode.Append())
    val got = spark.table("sess_out")
    val batch = graft.Tables.loadEvents(spark, dir)
      .select(timestamp_micros(expr("ts div 1000")).as("event_time"), col("user_id"))
      .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
              col("user_id"), col("n_events"))
    assert(got.count() > 0)
    val joined = got.alias("g").join(batch.alias("b"), Seq("session_start", "user_id"))
    assert(joined.filter(col("g.n_events") =!= col("b.n_events")).count() === 0)
    assert(joined.count() === got.count())
  }

  test("foreachBatch bridge lands stream events in the batch warehouse") {
    val whRoot = org.apache.spark.ScratchDirs.create("graft_stream_wh").toString
    val ckpt = org.apache.spark.ScratchDirs.create("graft_ckpt").toString
    val wh = graft.etl.Warehouse(whRoot)
    EventStream.sinkToWarehouse(
      EventStream.readEvents(spark, dir), wh, "bronze", "events_stream", ckpt)
    val landed = wh.read(spark, "bronze", "events_stream")
    val batch = graft.Tables.loadEvents(spark, dir)
    assert(landed.count() === batch.count())
    // same per-type totals through either path
    val a = landed.groupBy("event_type").count().orderBy("event_type").collect()
    val b = batch.groupBy("event_type").count().orderBy("event_type").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("stream-stream interval join matches the batch join") {
    EventStream.runToMemory(
      EventStream.clickErrorJoin(EventStream.readEvents(spark, dir)),
      "ssj_out", OutputMode.Append())
    val got = spark.table("ssj_out")
    val base = graft.Tables.loadEvents(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("t"))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("t").as("ct"))
    val errors = base.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("eu"), col("t").as("et"))
    val batch = clicks.join(errors,
      col("user_id") === col("eu") && col("et") <= col("ct") &&
        col("et") >= col("ct") - expr("INTERVAL 1 HOUR"))
      .select("click_id", "user_id", "error_id")
    assert(got.count() > 0)
    assert(got.count() === batch.count())
    assert(got.exceptAll(batch).count() === 0)
  }

  test("streaming dedup drops duplicate event ids from a replayed source") {
    // stage the same file twice — an at-least-once upstream
    val d2 = org.apache.spark.ScratchDirs.create("graft_events_dup")
    Seq("a", "b").foreach { tag =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
        d2.resolve(s"events_$tag.parquet"))
    }
    EventStream.runToMemory(
      EventStream.dedupedEvents(EventStream.readEvents(spark, d2.toString)),
      "dedup_out", OutputMode.Append())
    val got = spark.table("dedup_out")
    val base = graft.Tables.loadEvents(spark, dir)
    assert(got.count() === base.count())          // every duplicate dropped
    assert(got.select("event_id").distinct().count() === base.count())
  }

  test("exactly-once sink: replayed batches do not duplicate rows") {
    val out = org.apache.spark.ScratchDirs.create("graft_eo_sink").toString
    val ckpt = org.apache.spark.ScratchDirs.create("graft_eo_ckpt").toString
    EventStream.sinkExactlyOnce(EventStream.readEvents(spark, dir), out, ckpt)
    val once = spark.read.parquet(out)
    val batch = graft.Tables.loadEvents(spark, dir)
    assert(once.count() === batch.count())
    // simulate the at-least-once failure window: re-deliver batch 0's
    // data with the same batch id — contents must be unchanged
    val writer = EventStream.exactlyOnceBatchWriter(out)
    // materialize first: the writer overwrites the files a lazy plan
    // would still be reading from
    val replayed = spark.read.parquet(out).filter(col("batch_id") === 0)
      .drop("batch_id")
    val replay = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(replayed.collect(): _*)),
      replayed.schema)
    writer(replay, 0L)
    assert(spark.read.parquet(out).count() === batch.count())
    // a NEW batch id appends rather than overwrites
    writer(replay.limit(5), 9999L)
    assert(spark.read.parquet(out).count() === batch.count() + 5)
  }

  test("flatMapGroupsWithState emits exactly the batch's closed sessions") {
    import org.apache.spark.sql.expressions.Window
    // stage time-ordered thirds so maxFilesPerTrigger=1 yields three
    // batches: sessions then close via BOTH paths (in-batch gap breach
    // and event-time timeout as the watermark advances between batches)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val d3 = org.apache.spark.ScratchDirs.create("graft_events_parts").toString
    val all = graft.Tables.loadEvents(spark, dir).orderBy("ts")
    val n = all.count()
    val rows = all.collect()
    rows.grouped((n / 3 + 1).toInt).zipWithIndex.foreach { case (part, i) =>
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(part: _*)), all.schema)
        .coalesce(1).write.parquet(s"$d3/part_$i")
    }
    val stagedDirs = new java.io.File(d3).listFiles().map(_.toString).sorted
    val oneDir = org.apache.spark.ScratchDirs.create("graft_events_seq").toString
    stagedDirs.zipWithIndex.foreach { case (pd, i) =>
      val f = new java.io.File(pd).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(oneDir, f"events_$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      // the file source batches by modification time: pin strictly
      // ascending mtimes so the thirds stream in chronological order
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    EventStream.runToMemory(
      EventStream.closedSessions(spark,
        EventStream.readEvents(spark, oneDir, maxFilesPerTrigger = 1)).toDF(),
      "fmg_out", OutputMode.Append())
    val got = spark.table("fmg_out")
    // batch reference: 30-min-gap sessionization over the same events
    val w = Window.partitionBy("user_id").orderBy("ms")
    val sess = graft.Tables.loadEvents(spark, dir)
      .select(col("user_id"),
        unix_millis(timestamp_micros(expr("ts div 1000"))).as("ms"))
      .withColumn("new_s", when(lag("ms", 1).over(w).isNull ||
        col("ms") - lag("ms", 1).over(w) > 1800000L, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(w))
      .groupBy("user_id", "sid")
      .agg(min("ms").as("start_ms"), max("ms").as("end_ms"),
           count(lit(1)).as("n_events"))
      .select(col("user_id"), timestamp_millis(col("start_ms")).as("session_start"),
        col("n_events"), ((col("end_ms") - col("start_ms")) / 1000L)
          .cast("long").as("duration_s"))
    assert(got.count() > 0)
    // every emitted session is exactly a batch session (all four cols),
    // emitted at most once; open/held-back sessions are the only gap
    assert(got.distinct().count() === got.count())
    val bad = got.join(sess,
      Seq("user_id", "session_start", "n_events", "duration_s"), "left_anti")
    if (bad.count() > 0) {
      println(s"DEBUG emitted=${got.count()} bad=${bad.count()}")
      bad.orderBy("user_id", "session_start").show(10, false)
      val u = bad.select("user_id").limit(2).collect().map(_.getLong(0))
      sess.filter(col("user_id").isin(u: _*)).orderBy("session_start").show(20, false)
      got.filter(col("user_id").isin(u: _*)).orderBy("session_start").show(20, false)
    }
    val matched = got.join(sess,
      Seq("user_id", "session_start", "n_events", "duration_s"))
    assert(matched.count() === got.count())
  }

  test("streaming funnel emits exactly the reference stage transitions") {
    val stages = Seq("signup", "click", "purchase")
    val horizonS = 604800L // 7 days, as ev_funnel
    EventStream.runToMemory(
      EventStream.funnelProgress(spark,
        EventStream.readEvents(spark, dir), stages, horizonS).toDF(),
      "funnel_out", OutputMode.Append())
    val got = spark.table("funnel_out")
    // in-memory ms-precision reference with identical first-transition
    // semantics (the batch ev_funnel entry floors to seconds, so user
    // SETS per stage are compared through this reference instead)
    val events = graft.Tables.loadEvents(spark, dir)
      .select(col("user_id"),
        unix_millis(timestamp_micros(expr("ts div 1000"))).as("ms"),
        col("event_type"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(e => (e._2, e._4))
    val ref = scala.collection.mutable.Map.empty[Long, (Int, Long)]
    val refHits = scala.collection.mutable.ListBuffer.empty[(Long, Int, Long)]
    events.foreach { case (u, ms, tpe, _) =>
      val (st, stMs) = ref.getOrElse(u, (0, 0L))
      if (st < stages.length && tpe == stages(st) &&
          (st == 0 || (ms >= stMs && ms < stMs + horizonS * 1000L))) {
        val lag = if (st == 0) 0L else (ms - stMs) / 1000L
        ref(u) = (st + 1, ms)
        refHits += ((u, st + 1, lag))
      }
    }
    val gotRows = got.select("user_id", "stage", "lag_s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotRows === refHits.toSet)
    // stage counts decrease monotonically (it is a funnel)
    val byStage = gotRows.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byStage(1) >= byStage.getOrElse(2, 0))
    assert(byStage.getOrElse(2, 0) >= byStage.getOrElse(3, 0))
  }

  test("late-drop entry removes exactly the replayed-late day, keeping its neighbors") {
    val res = graft.analytics.StreamingQueries
      .queries("st_late_drop")(spark, "/root/testdata/sf0.001")
    def windowsOn(day: String): Long =
      res.filter(col("hour_window") >= to_timestamp(lit(day)) &&
        col("hour_window") < to_timestamp(lit(day)) + expr("INTERVAL 1 DAY"))
        .count()
    assert(windowsOn("2024-01-02") === 0, "late day-2 windows must drop")
    assert(windowsOn("2024-01-01") > 0, "on-time day-1 windows must stay")
    assert(windowsOn("2024-01-03") > 0, "on-time day-3 windows must stay")
    // and the on-time tail (file C's >= Jan 15 rows) made it in
    assert(windowsOn("2024-01-20") > 0, "file-C on-time windows must stay")
  }

  test("stateful per-user activity accumulates across the stream") {
    val stream = EventStream.readEvents(spark, dir)
    EventStream.runToMemory(
      EventStream.userActivity(spark, stream).toDF(), "user_out", OutputMode.Update())
    val got = spark.table("user_out")
      .groupBy("user_id").agg(max("n_events").as("n_events"))
    val batch = graft.Tables.loadEvents(spark, dir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    val joined = got.alias("g").join(batch.alias("b"), Seq("user_id"))
    assert(joined.filter(col("g.n_events") =!= col("b.n_events")).count() === 0)
    assert(joined.count() === batch.count())
  }
}
