package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.{Pipeline, SourceFile}
import graft.fixtures.FilesGen
import graft.store.Snapshots
import Main._

/** `kg_lifecycle`: one batch build of a generated corpus, then the
  * micro-batch lifecycle on it — pin the epoch, deferred-merge pinned
  * ingests (one per run at the full size: each costs ~10 s of fixed
  * per-job work on 4 cores, and the run budget holds one), each followed
  * by a resolving read of the graph, and one explicit fold of the
  * merge-on-read tail.
  *
  * Set-up (untimed): a warm-up build of the fixed [[Canary]] corpus at
  * the toy size, which pays most of the JVM's and Spark's code
  * generation and whose outcome `run.py` compares with the committed
  * one; then the seed's corpus and deltas as parquet, written five times
  * (`setup_s` is the median). Timed: whole cycles until `--seconds` have
  * passed, each in a fresh run directory.
  */
object KgLifecycle {

  final case class Size(base: Long, delta: Long, ingests: Int)
  val Full = Size(base = 2000, delta = 500, ingests = 1)
  val Toy = Size(base = 400, delta = 100, ingests = 1)
  val Richness = 8
  /** Seed of the warm-up corpus; its outcome is in `perfbench/expected.json`. */
  val Canary = 0L
  val SetupReps = 5

  /** Layer that owns each snapshot stage. */
  def layerOf(stage: String): String = stage match {
    case "extract" => "extract"
    case "entities" | "link_edges" | "ep_shingles" | "ep_census" | "ep_keys" => "link"
    case "assign" | "canon_log" => "canon"
    case _ => "pipeline"
  }

  def config(size: Size): Pipeline.Config = Pipeline.Config(resume = false,
    canonBuckets = Some(math.max(64L, size.base / 500).toInt), deferMerges = true,
    maxLineageDeltas = Some(4), compactAppendFrac = None)

  /** Manifests (stage, manifest) an operation published under `runId`. */
  def published(runDir: String, runId: String): Seq[(String, Snapshots.Manifest)] = {
    val root = Paths.get(runDir)
    val stages = if (!Files.exists(root)) Nil else {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("stage=")).map(_.stripPrefix("stage=")).toSeq.sorted
      finally s.close()
    }
    stages.flatMap(st => Snapshots.versions(runDir, st).map(v =>
      st -> Snapshots.readManifestVersion(runDir, st, v)))
      .filter { case (_, m) => m.runId == runId || m.runId == s"$runId-maint" }
  }

  def bytesOf(m: Snapshots.Manifest): Long = m.fileBytes.map(_.values.sum).getOrElse(0L)

  /** Adds one child span per published stage under span `id` and returns
    * (wall seconds, task totals) per stage.
    */
  def stageSpans(t: Tracer, id: Long, ms: Seq[(String, Snapshots.Manifest)])
      : Map[String, (Double, TaskTotals)] = {
    val totals = t.stageTotals(id)
    ms.groupBy(_._1).map { case (st, xs) =>
      val wall = xs.map(_._2.wallMs).sum / 1e3
      t.stageWriteEnd(id, st).foreach(end =>
        t.child(id, s"stage.$st", layerOf(st), end - wall * 1e3, end.toDouble))
      st -> (wall, totals.getOrElse(st, new TaskTotals))
    }
  }

  /** A corpus and its deltas as parquet under `dir`. */
  final case class Inputs(dir: String, size: Size) {
    val base = s"$dir/base"
    val deltas: Seq[String] = (1 to size.ingests).map(i => s"$dir/delta$i")
    def write(spark: SparkSession, seed: Long): Unit = {
      def gen(n: Long, start: Long, out: String): Unit =
        FilesGen.dataset(spark, n, seed = seed, richness = Richness, start = start)
          .write.mode("overwrite").parquet(out)
      parallel((() => gen(size.base, 0, base)) +: deltas.zipWithIndex.map { case (d, i) =>
        () => gen(size.delta, size.base + i * size.delta, d) })
    }
  }

  /** Walls of the cycles a run timed, and per-layer samples. */
  final class Samples {
    val builds, triplesPerS, pins, ingests, reads, readsN, readsE, folds, cycles, disks =
      mutable.ArrayBuffer.empty[Double]
    val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit =
      layers.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def last(k: String): Double = layers.get(k).map(_.last).getOrElse(0.0)
  }

  /** One cycle in a fresh `runDir`: build, pin, the ingests each followed
    * by a resolving read, and the fold. Appends its walls to `s` and
    * returns its outcome: the stage row counts and graph digests every
    * cycle over the same inputs must reproduce ("failed" if it threw).
    */
  def cycle(spark: SparkSession, in: Inputs, runDir: String, label: String, cores: Int,
            t: Tracer, rep: Report, s: Samples): String = {
    import spark.implicits._
    def files(d: String): Dataset[SourceFile] = spark.read.parquet(d).as[SourceFile]
    val cfg = config(in.size)
    spark.sparkContext.setCheckpointDir(s"$runDir/_checkpoints")
    val outcome = new StringBuilder
    val cycleT0 = System.nanoTime()
    var cycleEnd = 0L // the fold's end; the check read after it is untimed
    val ok = rep.attempt(label) {
      // build
      val io0 = ioTotals()
      val (res, bs) = secondsOf(t.span("pipeline.run", "pipeline") {
        Pipeline.run(spark, files(in.base), runDir, "base", cfg) })
      s.builds += bs
      s.triplesPerS += res.triples / bs
      outcome ++= s"build=${res.triples}/${res.quarantined}/${res.entities}/" +
        s"${res.linkEdges}/${res.nodes}/${res.edges};"
      rep.check(s"$label build published triples", res.triples > 0 && res.edges > 0)
      if (t.enabled) {
        buildLayers(t, runDir, res, bs, io0, cores, s.sample)
        // per cycle, so a run of several cycles shows cold against warm
        rep.notes += f"$label build_s=$bs%.3f extract.wall_s=${s.last("extract.wall_s")}%.3f " +
          f"link.edges.wall_s=${s.last("link.edges.wall_s")}%.3f " +
          f"link.edges.gc_s=${s.last("link.edges.gc_s")}%.3f " +
          f"link.edges.spill_mb=${s.last("link.edges.spill_mb")}%.3f " +
          f"build.gc_s=${s.last("build.gc_s")}%.3f build.idle_frac=${s.last("build.idle_frac")}%.3f"
      }

      // pin
      val (_, ps) = secondsOf(t.span("pipeline.pinEpoch", "link") {
        Pipeline.pinEpoch(spark, runDir, "pin", cfg) })
      s.pins += ps
      if (t.enabled) {
        t.drain()
        t.lastSpan("pipeline.pinEpoch").foreach(x => stageSpans(t, x.id, published(runDir, "pin")))
      }

      // ingests, each followed by a resolving read
      var last = ("", "")
      in.deltas.zipWithIndex.foreach { case (d, i) =>
        val runId = s"ingest${i + 1}"
        val (r, is) = secondsOf(t.span("pipeline.runIncrementalPinned", "pipeline") {
          Pipeline.runIncrementalPinned(spark, files(d), runDir, runId, cfg) })
        s.ingests += is
        val (dn, rn) = secondsOf(t.span("pipeline.readNodes", "pipeline") {
          digest(Pipeline.readNodes(spark, runDir)) })
        val (de, re) = secondsOf(t.span("pipeline.readEdges", "pipeline") {
          digest(Pipeline.readEdges(spark, runDir)) })
        s.readsN += rn; s.readsE += re; s.reads += rn + re
        last = (dn, de)
        outcome ++= s"$runId=${r.triples}/${r.nodes}/${r.edges}/$dn/$de;"
        if (t.enabled) ingestLayers(t, spark, runDir, runId, is, rn + re, cores, s.sample)
      }

      // fold the merge-on-read tail; the resolved graph must not change
      val (_, fs) = secondsOf(t.span("pipeline.compactTail", "pipeline") {
        Pipeline.compactTail(spark, runDir, "fold", 0.0) })
      s.folds += fs
      cycleEnd = System.nanoTime()
      val after = (digest(Pipeline.readNodes(spark, runDir)),
        digest(Pipeline.readEdges(spark, runDir)))
      rep.check(s"$label resolved graph equal before and after compactTail", after == last)
      if (t.enabled) {
        t.drain()
        val fm = published(runDir, "fold")
        t.lastSpan("pipeline.compactTail").foreach(x => stageSpans(t, x.id, fm))
        s.sample("fold.write_mb", fm.map(x => bytesOf(x._2)).sum / 1e6)
      }
    }
    s.cycles += ((if (cycleEnd > 0) cycleEnd else System.nanoTime()) - cycleT0) / 1e9
    s.disks += dirBytes(runDir) / 1e6
    spark.catalog.clearCache()
    deleteDir(runDir)
    System.gc()
    if (ok.isDefined) outcome.toString else "failed"
  }

  /** Builds the canary corpus in `runDir` and returns its outcome: the
    * build's row counts and the digests of the published graph. It
    * warms the JVM and Spark's code generation for the timed build,
    * which a cold build pays twice over (STEADINESS.md).
    */
  def canaryBuild(spark: SparkSession, in: Inputs, runDir: String, rep: Report): String = {
    import spark.implicits._
    spark.sparkContext.setCheckpointDir(s"$runDir/_checkpoints")
    val outcome = rep.attempt("canary build") {
      val res = Pipeline.run(spark, spark.read.parquet(in.base).as[SourceFile], runDir, "base",
        config(in.size))
      rep.check("canary build published triples", res.triples > 0 && res.edges > 0)
      s"build=${res.triples}/${res.quarantined}/${res.entities}/${res.linkEdges}/" +
        s"${res.nodes}/${res.edges};nodes=${digest(Pipeline.readNodes(spark, runDir))};" +
        s"edges=${digest(Pipeline.readEdges(spark, runDir))}"
    }
    spark.catalog.clearCache()
    deleteDir(runDir)
    System.gc()
    outcome.getOrElse("failed")
  }

  def run(spark: SparkSession, a: Args, t: Tracer, rep: Report): Unit = {
    val dir = s"${a.work}/kg"

    // ---- set-up: a warm-up build of the canary corpus ----
    val canary = Inputs(s"$dir/input/canary", Toy)
    canary.write(spark, Canary)
    val (_, warm) = secondsOf(rep.canary = canaryBuild(spark, canary, s"$dir/canary", rep))
    rep.layer("setup.warmup_s", warm, "s")

    // ---- set-up: the seed's inputs (median of several writes) ----
    val in = Inputs(s"$dir/input/seed", if (a.toy) Toy else Full)
    rep.e2e("setup_s") = (medianOf((1 to SetupReps).map(_ => secondsOf(in.write(spark, a.seed))._2)),
      "s")

    // ---- timed cycles ----
    val s = new Samples
    val outcomes = mutable.ArrayBuffer.empty[String]
    t.restartTotals()
    val timedStart = System.nanoTime()
    while (outcomes.isEmpty || (System.nanoTime() - timedStart) / 1e9 < a.seconds)
      outcomes += cycle(spark, in, s"$dir/cycle${outcomes.size + 1}", s"cycle ${outcomes.size + 1}",
        a.cores, t, rep, s)
    val timedWall = (System.nanoTime() - timedStart) / 1e9
    // every cycle of one seed must publish the same graph
    rep.check("stage row counts and graph digests equal across cycles",
      outcomes.distinct.size == 1)
    rep.outcome = outcomes.head
    rep.notes += s"kg_lifecycle cycles=${outcomes.size} outcome=${outcomes.head.take(300)}"

    rep.e2e("op_s") = (medianOf(s.ingests.toSeq), "s")
    rep.e2e("pass_s") = (medianOf(s.cycles.toSeq), "s")
    rep.e2e("disk_mb") = (medianOf(s.disks.toSeq), "MB")

    rep.layer("build_s", medianOf(s.builds.toSeq), "s")
    rep.layer("build_triples_per_s", medianOf(s.triplesPerS.toSeq), "1/s")
    rep.layer("pin_s", medianOf(s.pins.toSeq), "s")
    rep.layer("ingest_s", medianOf(s.ingests.toSeq), "s")
    rep.layer("ingest_tail_s", tail(s.ingests.toSeq)._2, "s")
    rep.layer("read_s", medianOf(s.reads.toSeq), "s")
    rep.layer("fold_s", medianOf(s.folds.toSeq), "s")
    rep.layer("read.nodes_s", medianOf(s.readsN.toSeq), "s")
    rep.layer("read.edges_s", medianOf(s.readsE.toSeq), "s")
    rep.notes += s"samples: builds=${s.builds.size} ingests=${s.ingests.size} " +
      s"(${tail(s.ingests.toSeq)._1}) reads=${s.reads.size} folds=${s.folds.size}"
    s.layers.foreach { case (k, xs) =>
      rep.layer(k, medianOf(xs.toSeq), rep.layers.get(k).map(_._2).getOrElse(unitOf(k))) }
    if (t.enabled) {
      t.drain()
      sparkLayer(rep, t.all, timedWall, a.cores)
    }
  }

  def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac") || k.endsWith("yield") || k.endsWith("tax")) "ratio"
    else "count"

  /** Per-stage metrics of one traced build. */
  def buildLayers(t: Tracer, runDir: String, res: Pipeline.Result, wall: Double,
                  io0: (Long, Double), cores: Int,
                  sample: (String, Double) => Unit): Unit = {
    t.drain()
    val span = t.lastSpan("pipeline.run").get
    val ms = published(runDir, "base")
    val st = stageSpans(t, span.id, ms)
    def w(s: String) = st.get(s).map(_._1).getOrElse(0.0)
    def tt(s: String) = st.get(s).map(_._2).getOrElse(new TaskTotals)
    sample("extract.wall_s", w("extract"))
    sample("extract.busy_s", tt("extract").runMs / 1e3)
    sample("extract.gc_s", tt("extract").gcMs / 1e3)
    sample("extract.triples", res.triples.toDouble)
    sample("extract.quarantined", res.quarantined.toDouble)
    sample("extract.yield", res.triples.toDouble / math.max(1L, res.triples + res.quarantined))
    sample("extract.write_mb", ms.filter(_._1 == "extract").map(x => bytesOf(x._2)).sum / 1e6)
    sample("link.entities.wall_s", w("entities"))
    sample("link.entities.shuffle_mb", tt("entities").shuffleWrite / 1e6)
    sample("link.edges.wall_s", w("link_edges"))
    sample("link.edges.busy_s", tt("link_edges").runMs / 1e3)
    sample("link.edges.gc_s", tt("link_edges").gcMs / 1e3)
    sample("link.edges.shuffle_mb", tt("link_edges").shuffleWrite / 1e6)
    sample("link.edges.spill_mb", tt("link_edges").diskSpill / 1e6)
    sample("link.edges.rows", res.linkEdges.toDouble)
    sample("canon.wall_s", w("assign"))
    sample("canon.iterations", res.ccIterations.toDouble)
    sample("canon.distributed", if (res.ccIterations > 0) 1.0 else 0.0)
    sample("pipeline.nodes.wall_s", w("nodes"))
    sample("pipeline.nodes.shuffle_mb", tt("nodes").shuffleWrite / 1e6)
    sample("pipeline.edges.wall_s", w("edges"))
    sample("pipeline.critical_path_s", w("extract") + w("entities") + w("link_edges") +
      w("assign") + math.max(w("nodes"), w("edges")))
    // wall of the build not covered by any stage span
    val covered = t.spans.asScala.filter(_.parent == span.id)
      .map(s => (s.start, s.end)).toSeq.sortBy(_._1)
      .foldLeft((0.0, Double.MinValue)) { case ((acc, hi), (a, b)) =>
        if (b <= hi) (acc, hi) else (acc + b - math.max(a, hi), b) }._1 / 1e3
    sample("pipeline.driver_s", math.max(0.0, wall - covered))
    sample("store.write_mb", ms.map(x => bytesOf(x._2)).sum / 1e6)
    sample("store.files", ms.map(_._2.fileRows.size).sum.toDouble)
    val io1 = ioTotals()
    sample("store.io_s", io1._2 - io0._2)
    sample("store.io_calls", (io1._1 - io0._1).toDouble)
    val all = t.spanTotals(span.id)
    sample("build.jobs", all.jobs.size.toDouble)
    sample("build.gc_s", all.gcMs / 1e3)
    sample("build.idle_frac", 1 - all.runMs / 1e3 / (wall * cores))
  }

  /** Per-ingest metrics of one traced pinned ingest and its read. */
  def ingestLayers(t: Tracer, spark: SparkSession, runDir: String, runId: String,
                   wall: Double, readWall: Double, cores: Int,
                   sample: (String, Double) => Unit): Unit = {
    t.drain()
    val span = t.lastSpan("pipeline.runIncrementalPinned").get
    val ms = published(runDir, runId)
    val st = stageSpans(t, span.id, ms)
    def w(ss: String*) = ss.flatMap(st.get).map(_._1).sum
    sample("ingest.extract.wall_s", w("extract"))
    sample("ingest.link.wall_s", w("entities", "link_edges", "ep_shingles", "ep_keys",
      "ep_census"))
    sample("ingest.tail.wall_s", w("assign", "canon_log", "nodes", "edges"))
    val all = t.spanTotals(span.id)
    sample("ingest.jobs", all.jobs.size.toDouble)
    sample("ingest.tasks", all.tasks.toDouble)
    sample("ingest.idle_frac", 1 - all.runMs / 1e3 / (wall * cores))
    sample("ingest.write_mb", ms.map(x => bytesOf(x._2)).sum / 1e6)
    // versions a lineage read unions: those since the last full version
    val vs = Snapshots.versions(runDir, "link_edges")
    val width = vs.reverse.takeWhile(v => Snapshots.readManifestVersion(runDir,
      "link_edges", v).metrics.get("delta").contains("true")).size + 1
    sample("ingest.lineage_width", width.toDouble)
    if (Snapshots.isComplete(runDir, "canon_log"))
      sample("store.canon_log_rows", Snapshots.readManifest(runDir, "canon_log").rows.toDouble)
    sample("store.append_sets", Seq("assign", "nodes", "edges")
      .map(s => Snapshots.appendStats(Snapshots.readManifest(runDir, s))._2).sum.toDouble)
    // the read tax: resolved read over a raw read of the stored tables
    val (_, raw) = secondsOf(t.span("store.read", "store") {
      digest(Snapshots.read(spark, runDir, "nodes"))
      digest(Snapshots.read(spark, runDir, "edges"))
    })
    sample("read.tax", readWall / raw)
  }
}
