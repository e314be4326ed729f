package graft

import org.apache.spark.sql.SparkSession

/** Round benchmark. Emits ONE JSON line:
  *   {"metric":"total","value":<sec>,"unit":"sec",
  *    "queries":{<name>:<sec>,...},"queryReps":{<name>:[r1,r2],...},
  *    "failed":[...],"sf":"<dir>",
  *    "pipeline":{"files":N,"triples":T,"triplesPerSec":R,"cpus":C,
  *                "runsSec":[r1,r2,r3],"stagesSec":{<stage>:<sec>,...},
  *                "repStages":[{<stage>:<sec>,...},...]}}
  *
  * `queries` values are MIN over SPARK_GRAFT_QUERY_REPS (default 2)
  * reps with clearCache between reps, and `queryReps` carries every
  * rep — the round-3/4 single-shot walls generated phantom cross-round
  * regressions (minhash_neardup 3.4→8.6s on unchanged code) purely
  * from this host's phase-shaped noise. `repStages` carries the
  * per-stage walls of EVERY pipeline rep (not just the best), so a
  * driver run whose reps are all phase-hit can distinguish uniform
  * host inflation from a single-stage cliff.
  *
  * Delivery is belt-and-braces so the round driver can always parse it
  * (round 1 recorded parsed:null because the line reached the driver
  * wrapped in sbt's "[info] " prefix):
  *  - written to BENCH.json in the working directory (repo root under
  *    sbt; override with SPARK_GRAFT_BENCH_OUT), and
  *  - printed as the FINAL bare stdout line, after spark.stop(), with
  *    build.sbt routing forked-run stdout through unprefixed
  *    StdoutOutput and suppressing sbt's trailing [success] line.
  *
  * Two workloads, pipeline FIRST (provenance fixes from the round-3
  * verdict — the driver's r3 run measured the pipeline at 511s where
  * three builder runs of identical code+corpus+config measured
  * 45–98s, and the artifact couldn't say why):
  *  - the 4-stage KG pipeline on a generated bench corpus
  *    (SPARK_GRAFT_BENCH_FILES, default 200k files) — the north-rule
  *    throughput metric (triples/sec). It now runs BEFORE the query
  *    suite (a fresh JVM, not one carrying 46 queries of heap wake),
  *    min-of-N reps (SPARK_GRAFT_PIPE_REPS, default 3 — this host's
  *    wall clock has documented 2×+ phase-shaped noise, and with 3
  *    reps a quiet one exists with high probability), and the JSON
  *    carries the per-rep walls plus the PER-STAGE walls of every rep
  *    (from the stage manifests' wallMs), so a pathological run is
  *    diagnosable from the artifact alone.
  *  - every SparkEntry query on SPARK_GRAFT_SF_DIR (relational + text +
  *    dedup + similarity surface), timed individually; a query that
  *    throws is recorded in "failed" (and its wall time kept) instead
  *    of silently passing as a timing entry.
  *
  * Scaling runs: execute this main at SPARK_GRAFT_CPUS=8 and =32 on
  * identical input; efficiency = (rate32/rate8)/4 (see BENCH.md).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val benchFiles = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "200000").toLong
    val pipeReps = sys.env.getOrElse("SPARK_GRAFT_PIPE_REPS", "3").toInt
    val queryReps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plain FS checkpoint manager: the checksum manager's per-query
      // thread pools log "Thread pool did not terminate" ERRORs at
      // shutdown, polluting the stdout the driver parses
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // ---- KG pipeline throughput, measured FIRST in a quiet JVM ----
    // over a materialized parquet corpus (the north-rule input is a
    // table on storage; generation is data prep, not pipeline cost)
    val baseDir = java.nio.file.Files.createTempDirectory("graft-bench").toString
    val richness = sys.env.getOrElse("SPARK_GRAFT_RICHNESS", "8").toInt
    val filesDir = s"$baseDir/files"
    fixtures.FilesGen.dataset(spark, benchFiles, richness = richness)
      .write.mode("overwrite").parquet(filesDir)
    val files = spark.read.parquet(filesDir).as[SourceFile]

    // untimed warmup on a toy corpus: compiles every codegen path the
    // pipeline touches (extraction scanners, minhash_sigs, star joins,
    // parquet writers) so BOTH timed reps measure steady-state work
    // rather than rep 1 absorbing ~10s of janino compilation
    locally {
      val warmDir = s"$baseDir/warmup"
      spark.sparkContext.setCheckpointDir(s"$warmDir/_checkpoints")
      Pipeline.run(spark, fixtures.FilesGen.dataset(spark, 2000L, richness = richness),
        warmDir, "warmup", Pipeline.Config(resume = false))
      spark.catalog.clearCache()
      System.gc()
    }

    val reps = (1 to pipeReps).map { rep =>
      val runDir = s"$baseDir/run$rep"
      spark.sparkContext.setCheckpointDir(s"$runDir/_checkpoints")
      val t0 = System.nanoTime()
      val res = Pipeline.run(spark, files, runDir, s"bench$rep",
        Pipeline.Config(resume = false))
      val sec = (System.nanoTime() - t0) / 1e9
      // per-stage walls from the stage manifests (the diagnosis the
      // round-3 artifact lacked); the gap between their sum and the
      // rep wall is driver-side orchestration + host noise
      val stages = Pipeline.Stages.map(st =>
        st -> graft.store.Snapshots.readManifest(runDir, st).wallMs / 1e3)
      spark.catalog.clearCache()
      System.gc()
      (sec, res, stages)
    }
    val (pipeSec, res, stageWalls) = reps.minBy(_._1)
    val rate = res.triples / pipeSec

    // ---- query suite: min over queryReps reps per query ----
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val walls = (1 to queryReps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val sec = (System.nanoTime() - t0) / 1e9
        // drop blocks persisted inside operators (dedup/LSH) so later
        // reps/queries aren't measured under another run's memory
        // pressure
        spark.catalog.clearCache()
        // a failed rep's time-to-throw is NOT a timing: keeping it in
        // "queries"/total would deflate cross-round comparisons (the
        // failure itself is reported via "failed")
        if (ok) Some(sec) else None
      }
      // failed = no rep succeeded (deterministic breakage); a query
      // that succeeded on any rep keeps its min — queryReps carrying
      // fewer entries than queryReps reps flags the flaky rep
      if (walls.isEmpty) { failed += name; None } else Some(name -> walls)
    }

    val allQ = results.map { case (k, ws) => k -> ws.min } :+
      ("kg_pipeline" -> pipeSec)
    val qs = allQ.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qReps = (results :+ ("kg_pipeline" -> reps.map(_._1)))
      .map { case (k, ws) => "\"" + k + "\":" + ws.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val total = allQ.map(_._2).sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val runsJson = reps.map(_._1).mkString("[", ",", "]")
    def stagesJsonOf(ws: Seq[(String, Double)]): String =
      ws.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val repStagesJson = reps.map(r => stagesJsonOf(r._3))
      .mkString("[", ",", "]")
    val pipeline = s"""{"files":$benchFiles,"triples":${res.triples},""" +
      s""""triplesPerSec":${rate.toLong},"cpus":$cpus,""" +
      s""""runsSec":$runsJson,"stagesSec":${stagesJsonOf(stageWalls)},""" +
      s""""repStages":$repStagesJson}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"queryReps":$qReps,"failed":$failedJson,""" +
      s""""sf":"$sfDir","pipeline":$pipeline}"""

    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case _: Throwable => /* stdout below is the primary channel */ }

    // make sure nothing (executor cleanup, checkpoint managers) logs
    // after the metric line: stop everything first, print last
    spark.streams.active.foreach(_.stop())
    spark.stop()
    // scratch hygiene: the bench corpus + pipeline runs are ~1.3 GB
    // per invocation; leaking them across reps/rounds filled the host
    // disk once (query scratch cleans itself via SparkEntry's
    // shutdown hook). Try: a cleanup IOException must never destroy
    // the metric line, which is this program's output contract
    scala.util.Try(graft.store.Snapshots.deleteDir(baseDir))
    println(line)
    System.out.flush()
  }
}
