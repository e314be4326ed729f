package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface. The reference is batch-only (serial
  * upload loop, /root/reference/app.py:486-503) — these operators are
  * the streaming continuation of the same semantics: the event
  * pivot/profile as a watermarked windowed aggregation, and the
  * inactivity-gap sessionizer as keyed state. Both transforms take and
  * return (streaming) DataFrames, so batch tests can apply the exact
  * same logic through readStream over the driver's parquet.
  */
object Streaming {

  /** Watermarked sliding-window counts per event type. Parquet
    * timestamps arrive as TIMESTAMP_NTZ (Spark 4 default inference)
    * but watermarks require TIMESTAMP — normalized here (session tz
    * is UTC, so the cast is a relabel, not a shift).
    */
  def windowedEventCounts(events: DataFrame, windowLen: String = "6 hours",
                          watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long)
  final case class SessionAssign(event_id: Long, user_id: Long,
                                 session_seq: Long)
  final case class SessionState(lastTsUs: Long, seq: Long)

  /** Exact microseconds since epoch (Timestamp.getTime is ms-floored;
    * the sub-ms part lives in getNanos).
    */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** Inactivity-gap sessionization as keyed streaming state
    * (flatMapGroupsWithState) — the stateful twin of
    * ops.Relational.sessionize. Within a trigger the group iterator is
    * unordered, so events are sorted by (ts, event_id) before the gap
    * scan; state carries (last ts, session counter) across triggers.
    *
    * State is BOUNDED: the input is watermarked and each key arms an
    * EventTimeTimeout at lastTs + gap, so a user idle past the gap
    * (plus the watermark delay) has its state evicted instead of
    * accumulating forever — at production scale state size tracks the
    * ACTIVE population, not the all-time user count. The trade: a user
    * returning after eviction restarts at session_seq 1 (the per-user
    * lifetime counter is forgotten with the state), which is the
    * standard bounded-state sessionization contract; events older than
    * the watermark are dropped as late.
    */
  def sessionizeStream(events: Dataset[Ev], gapSeconds: Long,
                       watermarkDelay: String = "30 minutes")
  : Dataset[SessionAssign] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAssign](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // idle past the gap: the session is closed, drop the state
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toVector.sortBy(e => (micros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
            val out = sorted.map { e =>
              val tsUs = micros(e.ts)
              val isNew = st.lastTsUs == Long.MinValue ||
                tsUs - st.lastTsUs > gapSeconds * 1000000L
              st = SessionState(tsUs, if (isNew) st.seq + 1 else st.seq)
              SessionAssign(e.event_id, user, st.seq)
            }
            state.update(st)
            // evict once the watermark passes the session's gap horizon
            // (timeouts must be armed strictly beyond the current
            // watermark)
            val timeoutMs = math.max(st.lastTsUs / 1000L + gapSeconds * 1000L,
              state.getCurrentWatermarkMs() + 1L)
            state.setTimeoutTimestamp(timeoutMs)
            out.iterator
          }
      }
  }

  /** One micro-batch of streaming KG maintenance: the base batch runs
    * the full pipeline, later batches ingest incrementally
    * ([[graft.Pipeline.runIncremental]] — delta-only extraction,
    * global relink, versioned snapshots — or, with `epochPinned`,
    * [[graft.Pipeline.runIncrementalPinned]] — delta-only linking
    * under a census pinned after the base batch). The base batch is
    * the one while the extract holds no version of another batch: a
    * base batch that crashed part-way resumes its
    * [[graft.Pipeline.run]] (stages it already published are read
    * back), then pins. IDEMPOTENT per batch id: foreachBatch replays a
    * batch after a crash, and re-ingesting it would append duplicate
    * extract versions — the guard skips any batch whose runId already
    * committed the graph, so replay ≡ no-op (the streaming twin of the
    * batch resume contract). Returns true when the batch was applied.
    */
  def ingestBatch(batch: Dataset[graft.SourceFile], batchId: Long,
                  runDir: String,
                  cfg: graft.Pipeline.Config = graft.Pipeline.Config(),
                  epochPinned: Boolean = false)
  : Boolean = {
    import graft.store.Snapshots
    val runId = s"batch-$batchId"
    // "applied" means applied THROUGH THE LAST STAGE: a crash between
    // the extract publish and the edges publish must leave the batch
    // re-appliable, or the replayed batch would no-op against a graph
    // that never linked its triples. Every path is idempotent on the
    // extract side (it reuses a version this runId already published),
    // so the replay redoes only the downstream stages. Under deferred
    // merges an edges append without its canon log (the commit record,
    // Pipeline.committedRuns) is a crash window: the replay must
    // re-apply, rolling the partial tail back, or the partial state
    // would become permanent.
    val applied = Snapshots.isComplete(runDir, "edges") &&
      Snapshots.readManifest(runDir, "edges").runId == runId &&
      graft.Pipeline.committedRuns(runDir).contains(runId)
    if (applied) false
    else {
      val spark = batch.sparkSession
      val base = Snapshots.versions(runDir, "extract").forall(v =>
        Snapshots.readManifestVersion(runDir, "extract", v).runId == runId)
      // epoch mode: the continuous-maintenance cost profile — linking
      // is delta-vs-all under a census frozen at the base batch
      // (Pipeline.runIncrementalPinned; BENCH.md §10). The pin itself
      // is crash-healed: a batch that died between the base run and
      // the pin (or mid-pin) re-pins from the current global state on
      // replay (pinEpoch rewrites all three epoch stages together).
      def ensurePinned(): Unit =
        if (!Seq("ep_census", "ep_shingles", "ep_keys")
            .forall(Snapshots.isComplete(runDir, _)))
          graft.Pipeline.pinEpoch(spark, runDir, s"$runId-pin", cfg)
      if (base) {
        graft.Pipeline.run(spark, batch, runDir, runId,
          cfg.copy(resume = true))
        if (epochPinned) ensurePinned()
      } else if (epochPinned) {
        ensurePinned()
        graft.Pipeline.runIncrementalPinned(spark, batch, runDir, runId, cfg)
      } else
        graft.Pipeline.runIncremental(spark, batch, runDir, runId, cfg)
      true
    }
  }

  /** Streaming ingest → incremental graph maintenance: every
    * micro-batch of new source files lands in the same run dir via
    * [[ingestBatch]], so the published node/edge snapshots are always
    * the graph of everything ingested so far (and every prior state
    * stays time-travelable). Checkpointed; crash-replayed batches are
    * no-ops via the per-batch idempotence guard.
    */
  def kgIngestStream(files: Dataset[graft.SourceFile], runDir: String,
                     cfg: graft.Pipeline.Config = graft.Pipeline.Config(),
                     epochPinned: Boolean = false)
  : org.apache.spark.sql.streaming.StreamingQuery =
    files.writeStream
      .option("checkpointLocation", s"$runDir/_stream_checkpoint")
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[graft.SourceFile], batchId: Long) =>
        ingestBatch(batch, batchId, runDir, cfg, epochPinned): Unit
      }
      .start()

  /** Streaming exact dedup — the ingestion-time twin of batch
    * `Dedup.exactDedup`: drop every re-delivery of a key already seen
    * within the watermark horizon. `dropDuplicatesWithinWatermark`
    * keeps per-key state only until the watermark passes it, so state
    * size tracks the horizon's traffic, not the stream's lifetime —
    * the bounded-state contract a 100 TB ingest needs (an unbounded
    * `dropDuplicates` would grow state forever). Keys re-delivered
    * AFTER the horizon re-emit; pick the watermark to cover the
    * at-least-once redelivery window of the source.
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Drive a parquet directory through a streaming query into a memory
    * sink and return the materialized result (test/bench harness).
    */
  def runToMemory(spark: SparkSession, streaming: DataFrame,
                  name: String, mode: OutputMode): DataFrame = {
    val q = streaming.writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }
}
