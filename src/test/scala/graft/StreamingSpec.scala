package graft

import graft.ops.Relational
import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // FileStreamSource needs a directory: stage the single parquet file
  // into a temp dir
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"${sfDir("0.001")}/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }
  private lazy val batch = spark.read.parquet(eventsDir).cache()

  private def streamSource() =
    spark.readStream.schema(batch.schema).parquet(eventsDir)

  test("watermarked windowed counts == batch aggregation") {
    val streamed = Streaming.runToMemory(spark,
      Streaming.windowedEventCounts(streamSource()),
      "win_counts", OutputMode.Complete())
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val expected = batch
      .withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
      .select($"window.start", $"event_type", $"n", $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == expected && streamed.nonEmpty)
  }

  test("streaming dedup within watermark collapses redelivered events") {
    // at-least-once redelivery: the same corpus staged twice
    val d = java.nio.file.Files.createTempDirectory("graft-dedup")
    val src = java.nio.file.Path.of(s"${sfDir("0.001")}/events.parquet")
    java.nio.file.Files.copy(src, d.resolve("a.parquet"))
    java.nio.file.Files.copy(src, d.resolve("b.parquet"))
    val stream = spark.readStream.schema(batch.schema).parquet(d.toString)
    val out = Streaming.runToMemory(spark,
      Streaming.dedupStream(stream, Seq("event_id"), watermark = "365 days"),
      "dedup_mem", OutputMode.Append())
    assert(out.count() == batch.count(),
      s"each event exactly once: ${out.count()} vs ${batch.count()}")
    assert(out.select("event_id").distinct().count() == batch.count())
  }

  test("idle-user session state is evicted (bounded state), active sequences survive") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, s: String, user: Long) =
      Streaming.Ev(id, java.sql.Timestamp.valueOf(s), user)

    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.sessionizeStream(input.toDS(), gapSeconds = 60L,
        watermarkDelay = "1 minute")
      .toDF().writeStream.format("memory").queryName("evict_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 and user 2 each start session 1
      input.addData(ev(1, "2026-01-01 10:00:00", 1), ev(2, "2026-01-01 10:00:00", 2))
      q.processAllAvailable()
      // batch 2: user 2 far in the future — watermark advances to
      // 11:59, far past user 1's timeout (10:01) → user 1 evicted
      input.addData(ev(3, "2026-01-01 12:00:00", 2))
      q.processAllAvailable()
      // batch 3: both users return after another gap. user 2's state
      // survived (it stayed active): lifetime seq advances to 3
      // (session 2 began at 12:00). user 1's state was evicted: it
      // restarts at seq 1 — proof the idle key no longer holds state.
      input.addData(ev(4, "2026-01-01 12:10:00", 1), ev(5, "2026-01-01 12:10:00", 2))
      q.processAllAvailable()

      val got = spark.table("evict_sessions")
        .as[(Long, Long, Long)].collect().map(t => t._1 -> t._3).toMap
      assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 2L)
      assert(got(5L) == 3L, s"active user keeps its lifetime counter: $got")
      assert(got(4L) == 1L, s"evicted user must restart at seq 1: $got")

      val removed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed >= 1, "state store should report evicted rows")
    } finally q.stop()
  }

  test("sessionizer crash/restart: checkpoint resume reproduces the batch result") {
    val base = java.nio.file.Files.createTempDirectory("graft-restart")
    val srcDir = base.resolve("src"); java.nio.file.Files.createDirectories(srcDir)
    val outDir = s"$base/out"
    val ckDir = s"$base/ck"
    val evs = batch.select($"event_id", $"ts".cast("timestamp").as("ts"),
      $"user_id")

    // split the corpus BY TIME so sessions straddle the restart: the
    // second half only sessionizes correctly if the first run's state
    // survives in the checkpoint
    val med = evs.agg(expr("percentile(unix_timestamp(ts), 0.5)"))
      .head().getDouble(0)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Path.of(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, srcDir.resolve(s"$name.parquet"))
    }
    def startQuery() = Streaming.sessionizeStream(
        spark.readStream.schema(evs.schema).parquet(srcDir.toString)
          .as[Streaming.Ev],
        gapSeconds = 1800L, watermarkDelay = "365 days")
      .toDF().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode(OutputMode.Append()).start()

    stage(evs.filter(unix_timestamp($"ts") <= med), "half1")
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // the "crash": stop mid-corpus, state only in the checkpoint
    val afterRun1 = spark.read.parquet(outDir).count()
    assert(afterRun1 > 0 && afterRun1 < batch.count(),
      s"restart test must stop mid-corpus, saw $afterRun1 rows")

    stage(evs.filter(unix_timestamp($"ts") > med), "half2")
    val q2 = startQuery() // fresh query, same checkpoint → resumes
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(outDir)
      .as[(Long, Long, Long)].collect().toSet
    val expected = Relational.sessionize(batch, 1800L)
      .select($"event_id", $"user_id", $"session_seq".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected && got.nonEmpty,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("stateful streaming sessionization == batch window sessionization") {
    val evs = streamSource()
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id")
      .as[Streaming.Ev]
    val streamed = Streaming.runToMemory(spark,
      Streaming.sessionizeStream(evs, gapSeconds = 1800L).toDF(),
      "sessions", OutputMode.Append())
      .as[(Long, Long, Long)].collect().toSet
    val expected = Relational.sessionize(batch, 1800L)
      .select($"event_id", $"user_id", $"session_seq".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == expected && streamed.nonEmpty)
  }

  test("streaming KG ingest: per-batch incremental maintenance equals the full batch graph") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.store.Snapshots
    val all = graft.fixtures.FilesGen.local(300)
    val (a, b) = all.splitAt(200)
    val runDir = java.nio.file.Files
      .createTempDirectory("graft-stream-kg").toString

    val input = MemoryStream[graft.SourceFile](spark)
    val q = Streaming.kgIngestStream(input.toDS(), runDir)
    try {
      input.addData(a: _*)
      q.processAllAvailable()
      val nodesAfterA = Snapshots.readManifest(runDir, "nodes").rows
      input.addData(b: _*)
      q.processAllAvailable()
      assert(Snapshots.versions(runDir, "extract") == Seq(1, 2))
      assert(Snapshots.readManifest(runDir, "nodes").rows > nodesAfterA)
    } finally q.stop()

    // the maintained graph equals a from-scratch batch run over A ∪ B
    val full = java.nio.file.Files
      .createTempDirectory("graft-stream-kg-full").toString
    graft.Pipeline.run(spark, all.toDS(), full, "full")
    def nodes(d: String) = Snapshots.read(spark, d, "nodes")
      .select($"canonicalId", $"canonical", $"kind", $"memberCount")
      .as[(Long, String, String, Long)].collect().toSet
    assert(nodes(runDir) == nodes(full))

    // crash-replay idempotence: re-applying an already-ingested batch
    // id is a no-op (no new extract version, graph unchanged)
    val applied = Streaming.ingestBatch(b.toDS(), batchId = 1L, runDir)
    assert(!applied)
    assert(Snapshots.versions(runDir, "extract") == Seq(1, 2))
    assert(nodes(runDir) == nodes(full))

    // partial-crash repair: nodes published but edges and the canon
    // log did not — the replayed batch must RE-APPLY (rolled back and
    // re-run; the delta extract is not duplicated) instead of
    // no-op'ing against a graph that never linked its triples
    Seq(Pipeline.CanonLogStage, "edges")
      .foreach(Snapshots.rollback(runDir, _, "batch-1"))
    val reapplied = Streaming.ingestBatch(b.toDS(), batchId = 1L, runDir)
    assert(reapplied, "batch with incomplete downstream must re-apply")
    assert(Snapshots.versions(runDir, "extract") == Seq(1, 2))
    assert(nodes(runDir) == nodes(full))
  }

  test("streaming KG ingest in EPOCH mode: delta-only linking, graph equals pinned from-scratch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.store.Snapshots
    val all = graft.fixtures.FilesGen.local(300)
    val (a, b) = all.splitAt(200)
    val runDir = java.nio.file.Files
      .createTempDirectory("graft-stream-ep").toString
    // banded fuzzy path everywhere (the epoch mechanism), as in
    // PipelineSpec's pinned-equality test
    val cfg = Pipeline.Config(link =
      graft.link.Linking.Config(exactSmallThreshold = 0L))

    val input = MemoryStream[graft.SourceFile](spark)
    val q = Streaming.kgIngestStream(input.toDS(), runDir, cfg,
      epochPinned = true)
    try {
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()

    // batch 1 pinned the epoch; batch 2 APPENDED delta slices instead
    // of relinking globally
    Seq("ep_census", "ep_keys").foreach(st =>
      assert(Snapshots.isComplete(runDir, st), st))
    Seq("entities", "link_edges").foreach { st =>
      assert(Snapshots.versions(runDir, st) == Seq(1, 2), st)
      val m = Snapshots.readManifestVersion(runDir, st, 2)
      assert(m.runId == "batch-1" && m.baseFiles.exists(_.nonEmpty),
        s"$st not a delta append")
    }

    // graph equality vs a from-scratch run under the same pinned census
    val hot = Snapshots.read(spark, runDir, "ep_census")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val full = java.nio.file.Files
      .createTempDirectory("graft-stream-ep-full").toString
    Pipeline.run(spark, all.toDS(), full, "full", Pipeline.Config(link =
      graft.link.Linking.Config(exactSmallThreshold = 0L,
        pinnedHot = Some(hot))))
    // batch 2 took the merge-on-read tail (default Config), so the
    // stored rows are not the graph until a fold: compare the
    // log-resolving reads
    def nodes(d: String) = Pipeline.readNodes(spark, d)
      .select($"canonicalId", $"canonical", $"kind", $"memberCount")
      .as[(Long, String, String, Long)].collect().toSet
    def edges(d: String) = Pipeline.readEdges(spark, d)
      .select($"subj", $"pred", $"canonicalId")
      .as[(String, String, Long)].collect().toSet
    assert(nodes(runDir) == nodes(full))

    // crash between base run and pin: drop the epoch state (the base
    // run's stages stay, as a real crash there leaves them), replay
    // an UNAPPLIED batch (its edges append and canon log rolled back) —
    // ensurePinned re-pins from the committed state
    Pipeline.EpochStages.foreach(st =>
      Snapshots.deleteDir(Snapshots.stageDir(runDir, st)))
    Seq(Pipeline.CanonLogStage, "edges")
      .foreach(Snapshots.rollback(runDir, _, "batch-1"))
    val reapplied = Streaming.ingestBatch(b.toDS(), batchId = 1L, runDir,
      cfg, epochPinned = true)
    assert(reapplied)
    Pipeline.EpochStages.foreach(st =>
      assert(Snapshots.isComplete(runDir, st), s"$st not re-pinned"))
    assert(Snapshots.versions(runDir, "extract") == Seq(1, 2))

    // the BASE batch crashed before a stage published (its extract is
    // the only version): the replay resumes the base run, then pins,
    // and the graph equals a fresh run of the same batch
    val base = graft.fixtures.FilesGen.local(150)
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-stream-ep-fresh").toString
    Pipeline.run(spark, base.toDS(), fresh, "fresh", cfg)
    Seq("entities", "assign").foreach { crashAt =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-stream-ep-$crashAt").toString
      assert(Streaming.ingestBatch(base.toDS(), batchId = 0L, dir, cfg,
        epochPinned = true))
      val lost = Pipeline.Stages.dropWhile(_ != crashAt) ++
        (Pipeline.CanonLogStage +: Pipeline.EpochStages)
      lost.foreach(st => Snapshots.deleteDir(Snapshots.stageDir(dir, st)))
      assert(Streaming.ingestBatch(base.toDS(), batchId = 0L, dir, cfg,
        epochPinned = true), s"crash before $crashAt must re-apply")
      assert(Snapshots.versions(dir, "extract") == Seq(1), crashAt)
      Seq("ep_census", "ep_keys").foreach(st =>
        assert(Snapshots.isComplete(dir, st), s"$st not pinned ($crashAt)"))
      assert(nodes(dir) == nodes(fresh), crashAt)
      assert(edges(dir) == edges(fresh), crashAt)
      Snapshots.deleteDir(dir)
    }
  }

  test("streaming KG ingest with DEFERRED merges: append-only batches; log is the replay commit record") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.store.Snapshots
    val all = graft.fixtures.FilesGen.local(300)
    val (a, b) = all.splitAt(200)
    val runDir = java.nio.file.Files
      .createTempDirectory("graft-stream-def").toString
    val cfg = Pipeline.Config(canonBuckets = Some(64),
      deferMerges = true,
      link = graft.link.Linking.Config(exactSmallThreshold = 0L))

    val input = MemoryStream[graft.SourceFile](spark)
    val q = Streaming.kgIngestStream(input.toDS(), runDir, cfg,
      epochPinned = true)
    try {
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()

    // batch 2 went through the merge-on-read tail: append-only
    // version carrying the base files, dirty log carrying its merges
    val em = Snapshots.readManifest(runDir, "edges")
    assert(em.metrics.get("defer").contains("true") &&
      em.fileRows.keys.forall(_.startsWith("append/")) &&
      em.baseFiles.exists(_.nonEmpty), em.metrics.toString)
    assert(Pipeline.canonLogDirty(runDir))

    // resolved graph equals a from-scratch run under the same census
    val hot = Snapshots.read(spark, runDir, "ep_census")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val full = java.nio.file.Files
      .createTempDirectory("graft-stream-def-full").toString
    Pipeline.run(spark, all.toDS(), full, "full",
      Pipeline.Config(canonBuckets = Some(64), link =
        graft.link.Linking.Config(exactSmallThreshold = 0L,
          pinnedHot = Some(hot))))
    def nodes(d: String) = Pipeline.readNodes(spark, d)
      .select($"canonicalId", $"canonical", $"kind", $"memberCount")
      .as[(Long, String, String, Long)].collect().toSet
    assert(nodes(runDir) == nodes(full))

    // CRASH WINDOW: appends published, canon log (the commit record)
    // not. The replayed batch must NOT be treated as applied — it
    // re-applies: the uncommitted batch rolls back to the pre-batch
    // versions and re-runs
    Snapshots.rollback(runDir, Pipeline.CanonLogStage, "batch-1")
    assert(!Pipeline.canonLogDirty(runDir))
    val reapplied = Streaming.ingestBatch(b.toDS(), batchId = 1L, runDir,
      cfg, epochPinned = true)
    assert(reapplied, "a deferred batch missing its log must re-apply")
    assert(nodes(runDir) == nodes(full))
    // and a replay AFTER full application is a no-op again
    assert(!Streaming.ingestBatch(b.toDS(), batchId = 1L, runDir,
      cfg, epochPinned = true))
  }
}
