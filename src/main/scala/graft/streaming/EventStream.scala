package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

final case class Event(event_id: Long, event_time: java.sql.Timestamp,
                       user_id: Long, event_type: String, value: Double)

final case class UserActivity(user_id: Long, n_events: Long,
                              total_value: Double, last_event: java.sql.Timestamp)

/** Open-session state for [[EventStream.closedSessions]] (epoch ms). */
final case class OpenSession(start_ms: Long, last_ms: Long, n: Long)

/** A closed session emitted by [[EventStream.closedSessions]]. */
final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                            n_events: Long, duration_s: Long)

/** Per-user funnel progress for [[EventStream.funnelProgress]]: number
  * of stages completed and when the latest one was reached (epoch ms). */
final case class FunnelState(stage: Int, stage_ms: Long)

final case class CapState(n: Long)
final case class CapOut(user_id: Long, day: Long, delivered: Boolean)

/** A stage advance emitted by [[EventStream.funnelProgress]]. */
final case class FunnelHit(user_id: Long, stage: Int, stage_name: String,
                           lag_s: Long)

/** Structured Streaming over the `events` table (the reference has no true
  * streaming — its watermark framework is the batch analog, SURVEY.md
  * §2.9; this module is the engine's native streaming surface).
  *
  *  - [[windowedCounts]]: tumbling-window aggregation with an event-time
  *    watermark (late rows beyond the lateness bound are dropped — the
  *    streaming twin of the ETL spine's 1-day watermark buffer);
  *  - [[userActivity]]: arbitrary stateful aggregation via
  *    mapGroupsWithState (running per-user totals);
  *  - [[runToMemory]]: synchronous drain into a memory sink for tests and
  *    local verification.
  *
  * At scale the same topology runs continuously: parquet/kafka source →
  * state store on shuffle partitions → sink; watermarks bound state size.
  */
object EventStream {

  /** File-based stream of the events directory with typed event time.
    *
    * The stream schema is DERIVED FROM THE PARQUET FOOTER via a batch
    * read — never hard-coded. The on-disk `ts` layout has shipped both
    * as TIMESTAMP(NANOS) (→ Long ns under the legacy flag) and
    * TIMESTAMP(MICROS) (→ TimestampType/NTZ); forcing `LongType` onto a
    * timestamp column would silently reinterpret µs as ns and collapse
    * every window/session 1000×, so the event-time expression branches
    * on the actual footer type instead.
    */
  def readEvents(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Int = 4): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema: StructType = spark.read.parquet(dir).schema
    val eventTime: org.apache.spark.sql.Column = fileSchema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000")) // ns long
      case TimestampNTZType =>
        col("ts").cast(TimestampType) // exact under UTC session TZ
      case TimestampType => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other")
    }
    spark.readStream
      .schema(fileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)
      .select(
        col("event_id"), eventTime.as("event_time"),
        col("user_id"), col("event_type"), col("value"))
  }

  /** Tumbling-window counts/sums per event type with a 10-minute
    * watermark. Append mode: a window emits once its watermark passes. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("total_value"))

  /** Session windows (30-min gap) per user — Spark's native
    * `session_window` handles the merge logic and, under a watermark,
    * bounds session state on an unbounded stream. Works identically on
    * batch DataFrames (EventStreamSpec proves stream ≡ batch). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", lateness)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
              col("user_id"), col("n_events"))

  /** Streaming exact dedup with bounded state: duplicate event_ids
    * arriving within the watermark horizon are dropped, and per-key state
    * is evicted once the watermark passes — so an unbounded duplicate-y
    * stream (at-least-once upstream, replayed files) dedups in constant
    * state. The streaming twin of the batch pipeline's exact dedup. */
  def dedupedEvents(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click joins error events of the
    * same user from the preceding hour. Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can evict
    * buffered state once the watermark passes — the join runs forever in
    * bounded memory (an unbounded-condition stream join would buffer both
    * streams whole). Inner join → append mode; results match the batch
    * join over the same files (spec-proven). */
  def clickErrorJoin(events: DataFrame, lateness: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", lateness)
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("err_user"),
        col("event_time").as("error_time"))
      .withWatermark("error_time", lateness)
    clicks.join(errors,
      col("user_id") === col("err_user") &&
        col("error_time") <= col("click_time") &&
        col("error_time") >= col("click_time") - expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"), col("error_id"))
  }

  /** Gap sessionization with sessions emitted AS THEY CLOSE — the
    * flatMapGroupsWithState form of the 30-min-gap batch sessionizer.
    * Where [[sessionCounts]] lets `session_window` manage the merge,
    * this is the custom-state shape for session logic the declarative
    * window can't say (per-session payloads, mid-session triggers):
    * per-user state holds the one open session; in-batch events fold
    * into it, a gap breach closes and emits, and an EVENT-TIME TIMEOUT
    * at `last + gap` closes idle sessions once the watermark passes —
    * so state stays one row per active user on an unbounded stream,
    * and emission needs no end-of-stream. */
  def closedSessions(spark: SparkSession, events: DataFrame,
                     gapMinutes: Int = 30,
                     lateness: String = "10 minutes"): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    def close(userId: Long, s: OpenSession): SessionOut =
      SessionOut(userId, new java.sql.Timestamp(s.start_ms), s.n,
        (s.last_ms - s.start_ms) / 1000L)
    events.as[Event]
      .withWatermark("event_time", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(userId, s))
          } else {
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            batch.map(_.event_time.getTime).toSeq.sorted.foreach { t =>
              cur = cur match {
                // |t − last| ≤ gap joins the session: the in-batch sort
                // makes t ascending, but an event later than the open
                // session's start yet within the lateness bound may
                // still arrive from an earlier wall-clock batch — fold
                // it via min/max instead of corrupting the interval
                case Some(s) if math.abs(t - s.last_ms) <= gapMs =>
                  Some(OpenSession(math.min(s.start_ms, t),
                    math.max(s.last_ms, t), s.n + 1))
                case Some(s) if t > s.last_ms =>
                  closed ::= close(userId, s)
                  Some(OpenSession(t, t, 1))
                case Some(s) =>
                  // severely late (beyond gap BEFORE the open session):
                  // count it as its own already-closed singleton rather
                  // than resetting newer state
                  closed ::= SessionOut(userId, new java.sql.Timestamp(t), 1L, 0L)
                  Some(s)
                case None => Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              if (s.last_ms + gapMs <= state.getCurrentWatermarkMs()) {
                // already idle past the gap at the current watermark —
                // a timeout could never be set in the past, close now
                closed ::= close(userId, s)
                state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(s.last_ms + gapMs)
              }
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming funnel — the live twin of
    * `analytics.BehaviorQueries.funnelStages`: per-user state is just
    * (stages-completed, reached-at), each qualifying event advances one
    * stage and EMITS the transition as it happens (append mode), so a
    * dashboard sees conversions live instead of re-scanning history.
    * A stage-k event counts only inside `horizonS` of reaching stage
    * k−1, mirroring the batch semantics exactly under in-order delivery
    * (the in-batch sort orders within a micro-batch; cross-batch
    * stragglers obey the watermark like every operator here).
    *
    * State is bounded two ways: a completed funnel removes its state
    * immediately, and an EVENT-TIME TIMEOUT purges users whose window
    * has passed (once the watermark clears stage_ms + horizon no
    * qualifying event can still arrive — the state is dead weight and
    * is dropped without emitting). */
  def funnelProgress(spark: SparkSession, events: DataFrame,
                     stages: Seq[String], horizonS: Long,
                     lateness: String = "10 minutes"): Dataset[FunnelHit] = {
    import spark.implicits._
    require(stages.nonEmpty, "funnelProgress needs at least one stage")
    val horizonMs = horizonS * 1000L
    events.as[Event]
      .withWatermark("event_time", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove() // conversion window passed: nothing can advance
            Iterator.empty
          } else {
            var cur = state.getOption.getOrElse(FunnelState(0, 0L))
            var hits = List.empty[FunnelHit]
            batch.toSeq.sortBy(e => (e.event_time.getTime, e.event_id))
              .foreach { e =>
                if (cur.stage < stages.length &&
                    e.event_type == stages(cur.stage)) {
                  val t = e.event_time.getTime
                  val inWindow = cur.stage == 0 ||
                    (t >= cur.stage_ms && t < cur.stage_ms + horizonMs)
                  if (inWindow) {
                    val lag = if (cur.stage == 0) 0L
                              else (t - cur.stage_ms) / 1000L
                    cur = FunnelState(cur.stage + 1, t)
                    hits ::= FunnelHit(userId, cur.stage,
                      stages(cur.stage - 1), lag)
                  }
                }
              }
            if (cur.stage == 0) state.remove()
            else if (cur.stage == stages.length) state.remove() // complete
            else {
              state.update(cur)
              // past stage_ms + horizon the next stage can never fire
              val purgeAt = cur.stage_ms + horizonMs
              if (purgeAt > state.getCurrentWatermarkMs())
                state.setTimeoutTimestamp(purgeAt)
              else state.remove()
            }
            hits.reverseIterator
          }
      }
  }

  /** Streaming frequency capping — the stream twin of the batch
    * ev_frequency_capping entry: per-(user, day) delivery state counts
    * across micro-batches; events beyond `cap` emit suppressed. Each
    * invocation sorts its in-batch slice by (event_time, event_id) so a
    * bounded replay reproduces the batch row_number semantics exactly
    * (the same in-batch-sort discipline as the sessionizer above). */
  def cappedDeliveries(spark: SparkSession, events: DataFrame,
                       cap: Int = 5): Dataset[CapOut] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(e => (e.user_id, e.event_time.getTime / 86400000L))
      .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.NoTimeout()) {
        (key: (Long, Long), batch: Iterator[Event],
         state: GroupState[CapState]) =>
          val sorted = batch.toVector.sortBy(e => (e.event_time.getTime,
            e.event_id))
          val prior = state.getOption.map(_.n).getOrElse(0L)
          state.update(CapState(prior + sorted.size))
          sorted.iterator.zipWithIndex.map { case (e, i) =>
            CapOut(key._1, key._2, prior + i + 1 <= cap)
          }
      }
  }

  /** Running per-user activity via mapGroupsWithState — the custom-state
    * escape hatch (KeyValueGroupedDataset) for logic windows can't say. */
  def userActivity(spark: SparkSession, events: DataFrame): Dataset[UserActivity] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserActivity]) =>
          val prev = state.getOption.getOrElse(
            UserActivity(userId, 0L, 0.0, new java.sql.Timestamp(0L)))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserActivity(userId, acc.n_events + 1, acc.total_value + e.value,
              if (e.event_time.after(acc.last_event)) e.event_time else acc.last_event)
          }
          state.update(next)
          next
      }
  }

  /** Drain a streaming DataFrame synchronously into an in-memory table;
    * returns the query (stopped) — read results via spark.table(name). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    q
  }

  /** Bridge into the batch warehouse: append each micro-batch to a
    * layer/table via foreachBatch with checkpointed resume. Delivery is
    * AT-LEAST-ONCE: a crash between the append and the checkpoint commit
    * replays that batch (for effective exactly-once see
    * [[exactlyOnceBatchWriter]] / [[sinkExactlyOnce]]). This is how
    * streaming events land in the same medallion tables the batch spine
    * owns — one storage layout, two ingestion speeds. Runs to completion
    * of available data. */
  def sinkToWarehouse(df: DataFrame, wh: graft.etl.Warehouse, layer: String,
                      table: String, checkpointDir: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        wh.append(batch, layer, table)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    q
  }

  /** Idempotent per-batch writer — the exactly-once building block over
    * plain parquet. Every micro-batch lands in its own `batch_id=N`
    * partition via DYNAMIC partition overwrite: a replayed batch (crash
    * between sink write and checkpoint commit, the at-least-once gap)
    * overwrites its own partition byte-for-byte instead of appending a
    * duplicate, so sink contents equal exactly-once delivery. Readers see
    * the table minus the `batch_id` bookkeeping column. The same trick is
    * the plain-parquet stand-in for a transactional table format's
    * (txnAppId, version) dedup at 100 TB. */
  def exactlyOnceBatchWriter(path: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)

  /** Checkpointed stream → [[exactlyOnceBatchWriter]] sink; effective
    * exactly-once end to end (source offsets in the checkpoint, batch
    * replays collapse into their own partition). */
  def sinkExactlyOnce(df: DataFrame, path: String,
                      checkpointDir: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(exactlyOnceBatchWriter(path))
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    q
  }
}
