package graft

import graft.canon.ConnectedComponents
import graft.extract.Extraction
import graft.link.{Linking, SkewJoin}
import graft.store.Snapshots
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The 4-stage KG-construction pipeline (north rule):
  *
  *   files ─repartitionByRange(repo,path)→
  *   [extract]  mapPartitions rule extractors → triples ∪ quarantine
  *   [link]     entities → exact-norm + MinHash-LSH edges
  *   [canon]    connected components → canonical entity ids
  *   [materialize] node + edge tables, clustered by kind / pred
  *
  * Every stage boundary is a durable snapshot (Snapshots.stage) with a
  * manifest published last — `run` with resume=true skips any stage
  * whose manifest exists, so a killed run resumes idempotently
  * mid-pipeline and downstream stages always read the durable parquet,
  * never live lineage.
  */
object Pipeline {

  final case class Config(
      extraction: Extraction.Config = Extraction.Config(),
      link: Linking.Config = Linking.Config(),
      // CC edge-count threshold below which the driver union-find fast
      // path runs instead of the distributed star fixpoint (see
      // ConnectedComponents.LocalEdgeThreshold), for the full run's
      // link graph and for a pinned ingest's component-pair graph
      // alike: the tail's only size decision. 0 forces the
      // distributed path — the bench uses that to exercise/measure the
      // 100 TB-only path on corpora whose edge sets would otherwise
      // ride the driver.
      ccLocalThreshold: Long = canon.ConnectedComponents.LocalEdgeThreshold,
      resume: Boolean = true,
      // CANONICAL BUCKETS (opt-in): when Some(B), the assign / nodes /
      // edges snapshots gain a cb = pmod(canonicalId, B) int data
      // column in last position; that is all B does. It sets no
      // layout, directory or file count, so it needs no sizing. The
      // manifests record it; a pinned ingest's tail and a fold write cb
      // with the stored tables' own stamp, whatever the config says.
      // None (default) = no cb column.
      canonBuckets: Option[Int] = None,
      // Refuse a pinned ingest whose census drift exceeds this bound
      // (fraction of the delta's distinct (pred, shingle) keys whose
      // hot/stop classification differs between the pinned census and
      // a fresh census at the current corpus size). None = record the
      // drift in the manifest but never refuse.
      maxCensusDrift: Option[Double] = None,
      // Fold trigger for the merge-on-read tail: after a pinned
      // ingest, if the append rows of any of assign/nodes/edges (or
      // the canon log's rows, against assign) reach this fraction of
      // the table, all three fold into fresh FULL snapshots with the
      // log applied (compactTail → Snapshots.compact — the Iceberg
      // rewrite_data_files shape). Amortization: a fold costs O(table)
      // but only fires every ~frac·table/delta ingests, so the
      // amortized per-ingest cost stays O(delta/frac); between folds
      // the tiered append sets keep per-ingest append work
      // O(delta·log). None (default) = never fold here — run
      // compactTail as an explicit maintenance job instead, the
      // Iceberg operational shape.
      compactAppendFrac: Option[Double] = None,
      // Every pinned ingest canonicalizes MERGE-ON-READ: it writes only
      // O(delta) appends plus a tiny compressed CANON LOG (old root →
      // new root, single-hop); readers resolve stale canonicals
      // through one broadcast join (Pipeline.readNodes / readEdges —
      // nodes additionally re-aggregate, which their schema combines
      // associatively), and compactTail folds the log physically past
      // compactAppendFrac. The LSM/Iceberg merge-on-read trade:
      // O(delta) writes, a bounded read tax until the next fold.
      // false = fold right after the ingest (compactTail at frac 0),
      // the graph a full rewrite gives, with a clean log. The field is
      // kept only because perfbench's KgLifecycle.config names it; the
      // next benchmark revision deletes it (compactAppendFrac =
      // Some(0) says the same).
      deferMerges: Boolean = true,
      // Consolidate a lineage stage (entities / link_edges /
      // ep_shingles / ep_keys) into a fresh full version whenever its
      // delta count exceeds this, at the START of the next pinned
      // ingest (see compactLineage): bounds the K-way union reads and
      // K-manifest sums that otherwise grow with ingest count. Cost
      // O(stage) amortized over maxDeltas ingests. None = never.
      maxLineageDeltas: Option[Int] = None
  )

  final case class Result(
      runId: String,
      triples: Long,
      quarantined: Long,
      entities: Long,
      linkEdges: Long,
      nodes: Long,
      edges: Long,
      ccIterations: Int
  )


  /** Run independent publish tasks concurrently and propagate the
    * first failure only after every task finished or failed (no write
    * still in flight when the caller sees the error). Shared by every
    * concurrent-publish site: the tasks must touch DISJOINT stages,
    * and crash semantics rely on each stage's own manifest being its
    * commit record (any partially-published subset heals through the
    * caller's resume/retry path).
    */
  private def parallelRun(tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    if (tasks.length == 1) return tasks.head()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val done = tasks.map(t => scala.concurrent.Future(t()))
        .map(f => scala.util.Try(scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf)))
      done.collectFirst { case scala.util.Failure(e) => throw e }
      (): Unit
    } finally pool.shutdown()
  }

  val Stages: Seq[String] =
    Seq("extract", "entities", "link_edges", "assign", "nodes", "edges")

  /** Stage-3 logic (shared by `run` and the oracle-checked
    * `kg_nodes_exact` query): canonical id per entity via connected
    * components over the link edges; singleton entities (no link edge)
    * canonicalize to themselves. Returns (assignments, cc iterations).
    */
  def assignCanonical(ents: DataFrame, links: DataFrame,
                      ccLocalThreshold: Long =
                        ConnectedComponents.LocalEdgeThreshold,
                      edgeCountHint: Option[Long] = None): (DataFrame, Int) = {
    val cc = ConnectedComponents.run(links,
      localThreshold = ccLocalThreshold, edgeCountHint = edgeCountHint)
    val assign = cc.assignments.withColumnRenamed("id", "entityId")
    val out = ents.join(assign, Seq("entityId"), "left")
      .select(col("pred"), col("obj"), col("norm"), col("entityId"),
        coalesce(col("comp"), col("entityId")).as("canonicalId"))
    (out, cc.iterations)
  }

  /** Stage-4a logic: node table from canonical assignments. The
    * canonical surface form is the (norm, obj)-minimal member —
    * deterministic; kind is constant within a component (linking never
    * crosses preds).
    */
  def nodeTable(assign: DataFrame): DataFrame =
    nodeTableFull(assign)
      .select("canonicalId", "canonical", "kind", "memberCount")

  /** [[nodeTable]] plus `canonicalNorm` — the norm of the (norm, obj)-
    * minimal member. The SNAPSHOT keeps it because the min is only
    * recombinable across comp merges from the full argmin PAIR: an
    * incremental ingest rebuilds a merged component's node row from
    * the constituent rows' (canonicalNorm, canonical) structs without
    * touching member rows (min/min/sum are associative).
    */
  def nodeTableFull(assign: DataFrame): DataFrame =
    assign.groupBy("canonicalId")
      .agg(
        min(struct(col("norm"), col("obj"))).as("m"),
        min(col("pred")).as("kind"),
        count(lit(1)).as("memberCount"))
      .withColumn("canonical", col("m.obj"))
      .withColumn("canonicalNorm", col("m.norm"))
      .select(NodeCols.map(col): _*)

  /** Published column order of `nodes` / `edges` ([[withCb]]'s cb last). */
  private val NodeCols =
    Seq("canonicalId", "canonical", "canonicalNorm", "kind", "memberCount")
  private val EdgeCols =
    Seq("subj", "pred", "canonicalId", "conf", "repo", "path", "commit")

  def run(spark: SparkSession, files: Dataset[SourceFile], runDir: String,
          runId: String, cfg: Config = Config()): Result = {
    val resume = cfg.resume

    // a run dir that has received incremental ingests holds MULTIPLE
    // extract versions whose union is the corpus; run()'s resume path
    // reads only the latest (delta-only!) snapshot and would silently
    // rebuild the downstream graph from the last delta alone. Recovery
    // of a crashed ingest goes through runIncremental (idempotent per
    // runId), never through run().
    require(Snapshots.versions(runDir, "extract").length <= 1,
      s"$runDir has incremental extract versions — resume a crashed " +
        "ingest with runIncremental (same runId), or start a fresh runDir")

    // a recompute (resume=false) starts from an empty lineage: the
    // prior run's stages go (else its extract version would sum with
    // the new one), and so does any pinned epoch and canon log — they
    // describe the PREVIOUS run's graph, so a later pinned ingest fails
    // fast until pinEpoch re-freezes. A pure resume leaves them alone.
    if (!resume)
      (Stages ++ Seq(CanonLogStage, "ep_census", "ep_keys", "ep_shingles"))
        .foreach(st => Snapshots.deleteDir(Snapshots.stageDir(runDir, st)))

    val triples = triplesOf(
      publishExtract(spark, files, runDir, runId, cfg, resume))
    val ccIters = downstream(spark, runDir, runId, cfg, triples, resume)
    resultFrom(runDir, runId, ccIters)
  }

  /** Stage 1 — extraction, published as an `extract` snapshot version.
    * repartitionByRange(repo, path) over the session's parallelism
    * gives deterministic per-partition lineage and co-locates each
    * repo's files (north star verbatim); the partition count is the
    * session's, not a knob.
    * Extract-stage layout choices are write-cost choices at 10^12
    * files (all measured in single-thread write A/Bs at 200k files):
    *  - subj ("repo/path") is derivable — dropped on write,
    *    re-derived on read by [[triplesOf]] (~15% fewer bytes, ~20%
    *    less write wall);
    *  - partitioned by the quarantine FLAG, not by pred: the only
    *    partition predicate the pipeline ever applies is
    *    quarantine-vs-not, and a boolean dynamic-partition sort is
    *    far cheaper than a 10-value one (19s vs 25s single-thread at
    *    200k files, and half the bytes — fewer files keep dictionary
    *    pages effective). The published nodes/edges tables cluster
    *    by kind / pred inside their files instead (see canonicalize).
    */
  private def publishExtract(spark: SparkSession,
                             files: Dataset[SourceFile], runDir: String,
                             runId: String, cfg: Config,
                             resume: Boolean): DataFrame =
    Snapshots.stage(spark, runDir, "extract", runId, resume,
      partitionBy = Seq("q")) {
      val arranged = files.repartitionByRange(
        spark.sparkContext.defaultParallelism, col("repo"), col("path"))
      Extraction.extract(arranged, cfg.extraction).toDF()
        .withColumn("q", col("pred") === lit(Extraction.QuarantinePred))
        .drop("subj")
    }

  /** The triples of extract rows: quarantine rows dropped, subj
    * re-derived. q partition pruning: these scans never touch
    * quarantine rows. The partition column is WRITTEN as boolean but
    * read back as STRING (partition inference never infers booleans) —
    * cast explicitly rather than leaning on implicit string→boolean
    * coercion surviving ANSI rule changes.
    */
  private def triplesOf(raw: DataFrame): DataFrame =
    raw.filter(!col("q").cast("boolean")).drop("q")
      .withColumn("subj", concat(col("repo"), lit("/"), col("path")))

  /** The full triple set: the union of every ingest's extract version
    * (each a disjoint corpus slice).
    */
  private def allTriples(spark: SparkSession, runDir: String): DataFrame =
    triplesOf(Snapshots.versions(runDir, "extract")
      .map(v => Snapshots.readVersion(spark, runDir, "extract", v))
      .reduce(_ unionByName _))

  /** Incremental ingest: extract ONLY `newFiles` (the content scan —
    * the cost that dominates at 10^12 files — never re-reads old
    * corpus bytes) as a NEW version of the extract snapshot, then
    * recompute the narrow downstream stages (entities, link edges,
    * canonicalization, node/edge tables — ~1% of the corpus bytes)
    * over the union of every extract version. Each ingest version-
    * bumps every stage snapshot, so prior graph states stay
    * time-travelable ([[graft.store.Snapshots.readVersion]]) and the
    * published tables are always globally consistent — a new form CAN
    * merge two previously-separate entities, which no edge-append
    * scheme would capture.
    *
    * Why the relink is global rather than delta-vs-all candidates +
    * stored old edges: the stop-shingle census is corpus-dependent
    * (the cap scales with the fuzzy population,
    * [[graft.link.Linking.Config.stopShingleCap]]), so growing the
    * corpus changes which shingles block for OLD pairs too — a
    * candidate-incremental scheme would not be output-equal to a
    * from-scratch run, just close. Global relink buys exact equality
    * (spec-gated) for the cost of recomputing narrow tables.
    *
    * Output equality with a from-scratch run over the full corpus is
    * spec-gated (PipelineSpec): incremental(A) + incremental(B) ≡
    * full(A ∪ B) on nodes, edges, and counts.
    */
  def runIncremental(spark: SparkSession, newFiles: Dataset[SourceFile],
                     runDir: String, runId: String,
                     cfg: Config = Config()): Result = {
    require(Snapshots.isComplete(runDir, "extract"),
      s"no completed prior run in $runDir — use Pipeline.run for the first ingest")

    extractDeltaOnce(spark, newFiles, runDir, runId, cfg)

    // a global relink is an EPOCH BUMP: any pinned epoch state derives
    // from the pre-ingest corpus and is stale the moment entities /
    // link_edges are globally recomputed — drop it so a later
    // runIncrementalPinned fails fast until pinEpoch re-freezes
    Seq("ep_census", "ep_keys", "ep_shingles")
      .foreach(st => Snapshots.deleteDir(Snapshots.stageDir(runDir, st)))

    val ccIters = downstream(spark, runDir, runId, cfg,
      allTriples(spark, runDir), resume = false)
    resultFrom(runDir, runId, ccIters)
  }

  /** Delta-only extract as a new snapshot version — UNLESS a version
    * with this runId already exists: a retry after a crash during the
    * downstream stages must not append the same delta twice (the
    * version union would double-count its triples). Idempotence key =
    * the caller's runId, same contract as Streaming.ingestBatch.
    * Returns this runId's extract rows.
    */
  private def extractDeltaOnce(spark: SparkSession,
                               newFiles: Dataset[SourceFile],
                               runDir: String, runId: String,
                               cfg: Config): DataFrame =
    versionsBy(runDir, "extract", runId).headOption match {
      case Some(v) => Snapshots.readVersion(spark, runDir, "extract", v)
      case None =>
        publishExtract(spark, newFiles, runDir, runId, cfg, resume = false)
    }

  // ------------------------------------------------------------------
  // EPOCH-PINNED incremental linking. runIncremental's global relink
  // buys exact from-scratch equality at the cost of recomputing the
  // narrow tables per ingest — at daily ingests over 10^12 files the
  // relink, not the extract, becomes THE cost (the stop-shingle
  // census, shingling, banding, and candidate scoring all rescan the
  // corpus). An EPOCH freezes the census (Linking.Config.pinnedHot)
  // and stores the shingle + banded-key tables as appendable
  // snapshots; each ingest then:
  //   - extracts ONLY the delta (as before),
  //   - appends the delta's new entity forms / shingles / band keys,
  //   - links DELTA-vs-ALL under the pinned census (the stored narrow
  //     tables are broadcast-filtered SCANS — never reshuffled, never
  //     re-shingled) and appends the new edges,
  //   - recomputes only CC + the node/edge materialization (narrow).
  // Contract: the maintained graph equals a from-scratch run UNDER THE
  // PINNED CENSUS (spec-gated in PipelineSpec), PROVIDED no band
  // bucket exceeds Linking.Config.maxBandBucket — above that the
  // from-scratch comparator star-restructures the bucket while the
  // delta path scores delta-vs-all, a SUPERSET of true merges (see
  // Linking.deltaFuzzyEdges's equality-scope note). Equality to an
  // unpinned from-scratch run is deliberately NOT promised — the
  // census is corpus-dependent, which is exactly why runIncremental
  // relinks globally. Re-pin (epoch bump) by running a global
  // runIncremental (which drops the epoch state) + pinEpoch when the
  // corpus has grown enough that the frozen census is stale (rule of
  // thumb: fuzzy population grew past the pinned cap's headroom,
  // i.e. ~2× the pinned nFuzzy).
  // ------------------------------------------------------------------

  /** Freeze the linking environment of the CURRENT global state as an
    * epoch: the stop-shingle census (ep_census), the shingle table
    * (ep_shingles), and the banded key table (ep_keys), each a
    * versioned snapshot under the run dir. Call after Pipeline.run or
    * a global runIncremental.
    *
    * Re-pinning over a dir whose link_edges lineage already carries
    * delta appends BLENDS censuses (old edges were scored under the
    * previous census) — still precision-1.0 (every edge is an exact
    * Jaccard ≥ threshold), but the spec'd from-scratch-under-census
    * equality only holds for epochs pinned right after a GLOBAL
    * relink. The crash-heal path in Streaming.ingestBatch accepts the
    * blend deliberately (availability over the recall fine print).
    */
  def pinEpoch(spark: SparkSession, runDir: String, runId: String,
               cfg: Config = Config()): Unit = {
    import spark.implicits._
    require(Snapshots.isComplete(runDir, "entities"),
      s"no completed run in $runDir — pinEpoch freezes an existing graph")
    val fuzzy = lineageUnion(spark, runDir, "entities")
      .filter(col("pred").isin(Linking.FuzzyPreds: _*))
    // cap from the entity manifest rows — the SAME n convention the
    // global link stage uses (sizeHint = entities manifest rows), so
    // an epoch pinned right after a global run freezes EXACTLY the
    // census that run linked under (pinned-vs-base coherence; an
    // upper bound only raises the cap, same contract as linkEdges)
    val nEnts = lineageRows(runDir, "entities")
    val cap = cfg.link.stopShingleCap(nEnts)
    val shingled = Snapshots.stage(spark, runDir, "ep_shingles", runId,
      resume = false, metrics = Map("delta" -> "false")) {
      Linking.shingleTable(fuzzy, cfg.link)
    }
    val hot = Linking.hotShingles(shingled, cap)
    // ep_census and ep_keys both derive from (shingled, hot) and
    // publish disjoint stages — overlap the two publishes (same crash
    // contract as the other concurrent publishes: each stage's own
    // manifest is the commit record)
    parallelRun(Seq(
      () => {
        Snapshots.stage(spark, runDir, "ep_census", runId, resume = false,
          metrics = Map("cap" -> cap.toString, "nEnts" -> nEnts.toString)) {
          hot.toDF("pred", "sh")
        }
        (): Unit
      },
      () => {
        Snapshots.stage(spark, runDir, "ep_keys", runId, resume = false,
          metrics = Map("delta" -> "false")) {
          Linking.bandedKeyTable(shingled, cfg.link, hot)
        }
        (): Unit
      }))
  }

  /** The frozen census of the current epoch. An empty census (no
    * fuzzy entities at pin time — manifest rows 0) short-circuits
    * without a collect job: per-ingest fixed cost, not data.
    */
  private def pinnedHot(spark: SparkSession,
                        runDir: String): Seq[(String, Long)] =
    if (Snapshots.readManifest(runDir, "ep_census").rows == 0L) Nil
    else Snapshots.read(spark, runDir, "ep_census")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Epoch-incremental ingest: delta-only extract AND delta-only
    * linking under the pinned census (see the block comment above).
    * Idempotent per runId at every appended stage, like
    * [[runIncremental]].
    */
  def runIncrementalPinned(spark: SparkSession,
                           newFiles: Dataset[SourceFile],
                           runDir: String, runId: String,
                           cfg: Config = Config()): Result = {
    import spark.implicits._
    require(Snapshots.isComplete(runDir, "extract"),
      s"no completed prior run in $runDir — use Pipeline.run for the first ingest")
    Seq("ep_census", "ep_shingles", "ep_keys").foreach(st =>
      require(Snapshots.isComplete(runDir, st),
        s"no pinned epoch in $runDir — run Pipeline.pinEpoch first"))

    // lineage maintenance BEFORE this ingest appends anything: only
    // completed foreign runs consolidate (see compactLineage)
    cfg.maxLineageDeltas.foreach(compactLineage(spark, runDir, runId, _))

    // 1. delta-only extract (idempotent per runId)
    val deltaTriples = triplesOf(graft.store.IOStat.timed("pin.extract")(
      extractDeltaOnce(spark, newFiles, runDir, runId, cfg)))

    // "the world before this ingest": lineage versions excluding any
    // slice a crashed attempt of THIS runId already appended
    def oldUnion(stage: String): DataFrame = lineageUnion(spark, runDir,
      stage, excludeRunId = Some(runId))

    // 2. delta entity forms — distinct forms of the delta not already
    // in the stored entity table (which is only scanned: the delta's
    // ids broadcast into the probe, the survivors anti-join a tiny
    // set). Broadcast hints only while the delta is small (bounded by
    // the delta extract's manifest rows).
    val deltaExtractRows = deltaRowsOf(runDir, "extract", runId)
    val entsOld = oldUnion("entities")
    val newEnts = graft.store.IOStat.timed("pin.entities")(
      appendOnce(spark, runDir, "entities", runId) {
      val deltaForms = Linking.entitiesOf(deltaTriples)
      val existing = entsOld
        .join(SkewJoin.hinted(deltaForms.select("entityId"), deltaExtractRows),
          Seq("entityId"))
        .select("entityId").distinct()
      deltaForms.join(SkewJoin.hinted(existing, deltaExtractRows),
        Seq("entityId"), "left_anti")
    })

    // 3. delta shingles + band keys under the PINNED census
    val hot = pinnedHot(spark, runDir)
    val deltaShingled = graft.store.IOStat.timed("pin.shingles")(
      appendOnce(spark, runDir, "ep_shingles", runId) {
        Linking.shingleTable(
          newEnts.filter(col("pred").isin(Linking.FuzzyPreds: _*)), cfg.link)
      })

    // 3b. CENSUS DRIFT — what the frozen epoch is silently costing:
    // of the delta's distinct (pred, shingle) keys, the fraction whose
    // hot/stop classification DIFFERS between the pinned census and a
    // fresh census at the current corpus size (fresh cap = the cap a
    // global relink would use right now). A drifted-to-hot shingle
    // still blocks for the delta (extra candidates — cost, not
    // recall); a drifted-to-stop one means the pin keeps surfacing
    // candidates a fresh run would drop. Every delta key is priced with
    // its exact df, from one broadcast-filtered scan of the stored
    // shingle lineage (delta-bounded aggregate, map-side combined).
    // The metric lands in this ingest's ep_keys manifest; Config.
    // maxCensusDrift turns it into a refusal (recover by running the
    // SAME runId through runIncremental — the global relink, which
    // bumps the epoch — then pinEpoch).
    val tDrift0 = System.nanoTime()
    // an ingest with NO fuzzy delta shingles has drift 0 by definition
    // (the measured set is empty) — known for free from the slice's
    // manifest, so the measurement jobs are skipped outright instead
    // of aggregating empty frames
    val deltaShRows = deltaRowsOf(runDir, "ep_shingles", runId)
    val drift =
      if (deltaShRows == 0L) 0.0
      else censusDrift(spark, runDir, cfg, hot, deltaShingled,
        deltaExtractRows)
    val driftSec = (System.nanoTime() - tDrift0) / 1e9
    cfg.maxCensusDrift.foreach { th =>
      require(drift <= th,
        f"census drift $drift%.4f exceeds maxCensusDrift $th%.4f — the " +
          s"pinned epoch is stale; re-pin: runIncremental(runId=$runId) " +
          "(global relink, bumps the epoch) then pinEpoch")
    }

    val deltaKeys = graft.store.IOStat.timed("pin.keys")(
      appendOnce(spark, runDir, "ep_keys", runId,
        Map("censusDrift" -> f"$drift%.6f",
          "driftSec" -> f"$driftSec%.2f")) {
        Linking.bandedKeyTable(deltaShingled, cfg.link, hot)
      })
    val deltaKeyRows = deltaRowsOf(runDir, "ep_keys", runId)

    // 4. new edges = delta-vs-all (exact-norm + banded fuzzy), each
    // pair carrying >=1 delta endpoint — disjoint from stored edges
    val deltaLinks = graft.store.IOStat.timed("pin.links")(
      appendOnce(spark, runDir, "link_edges", runId) {
        val keysAll = lineageUnion(spark, runDir, "ep_keys")
        val shingledAll = lineageUnion(spark, runDir, "ep_shingles")
        Linking.deltaExactEdges(entsOld, newEnts, deltaExtractRows)
          .unionByName(Linking.deltaFuzzyEdges(deltaKeys, keysAll,
            shingledAll, cfg.link, deltaKeyRows))
      })
    val deltaLinkRows = deltaRowsOf(runDir, "link_edges", runId)

    // 5. canonicalize + materialize: the O(delta) merge-on-read tail
    val ccIters = graft.store.IOStat.timed("pin.canon")(
      mergeOnReadTail(spark, runDir, runId, cfg,
        deltaTriples, newEnts, deltaLinks, deltaLinkRows, deltaExtractRows))
    resultFrom(runDir, runId, ccIters)
  }

  // ------------------------------------------------------------------
  // O(delta) canonicalize tail: MERGE-ON-READ, the only canonicalize
  // path of a pinned ingest. The pinned path above made extraction and
  // linking delta-proportional, but a global CC + full rewrite of
  // assign/nodes/edges per ingest reads AND writes the whole corpus —
  // at daily ingests over 10^12 files that tail IS the cost. The
  // observation that makes it incremental: delta link edges can only
  //   (a) land inside one existing component — a no-op, or
  //   (b) MERGE components — and the set of touched components is
  //       bounded by the delta edge count.
  // So: resolve the delta edges' endpoints to their current canonical
  // ids (a join against the assign table pruned to its ident=false
  // slice — the same probe-scan shape as the stored-key scans above —
  // then against the dirty canon log), run ConnectedComponents over
  // the resulting component-pair graph (its edge count picks the
  // local union-find or the distributed star fixpoint, the tail's
  // only size decision), and publish:
  //   assign/nodes/edges — APPEND-ONLY snapshots (Snapshots
  //            .stageAppend): the delta entities' rows with their
  //            final canonical, the delta members' node aggregates,
  //            and the delta triples' edges. No stored row is
  //            rewritten, so a merged-away root's stored rows stay
  //            stale;
  //   canon_log — the compressed single-hop remap of every root
  //            merged away since the last fold (old root → current
  //            root), published LAST as the ingest's commit record.
  // Readers resolve stale canonicals through the log (readNodes /
  // readEdges); compactTail applies it physically past the fold
  // threshold. Per-ingest IO = a non-identity probe + delta-sized
  // writes, whatever the merge count. Equality with a from-scratch run
  // is spec-gated (PipelineSpec, on both CC paths), and the path is
  // oracle-gated end to end (kg_nodes_pinned: a resolving read through
  // a dirty log; kg_nodes_deferred: after the fold).
  // ------------------------------------------------------------------

  /** Returns the CC iterations of the component-pair graph (0 on the
    * local path, and for a retry of a fully applied ingest, which is
    * a no-op: idempotent per runId, like every appended stage). A retry
    * that finds this runId's tail PARTIALLY applied rolls each tail
    * stage back to its pre-ingest version ([[Snapshots.rollback]]) and
    * re-runs: the pair graph is derived from the pre-ingest state.
    */
  private def mergeOnReadTail(spark: SparkSession, runDir: String,
                              runId: String, cfg: Config,
                              deltaTriples: DataFrame,
                              newEnts: DataFrame,
                              deltaLinks: DataFrame,
                              deltaLinkRows: Long,
                              deltaExtractRows: Long): Int = {
    import spark.implicits._
    val Tail = Seq("assign", "nodes", "edges")
    // crash-retry: the canon log is published LAST and is the ingest's
    // commit record
    if ((Tail :+ CanonLogStage).forall(st => Snapshots.isComplete(runDir, st)
        && Snapshots.readManifest(runDir, st).runId == runId)) return 0
    (Tail :+ CanonLogStage).foreach(Snapshots.rollback(runDir, _, runId))
    require(Tail.forall(Snapshots.isComplete(runDir, _)),
      s"no completed base graph in $runDir — resume its Pipeline.run first")
    val hadDirtyLog = canonLogDirty(runDir)

    // --- 1. the current root of every stored id the delta touches
    // (`roots`, non-identity ids only): its stored canonical from the
    // assign table pruned to the ident=false partitions, then through
    // the dirty canon log (prior merges were recorded, not rewritten;
    // a merged-away root keeps its identity row, so the log's keys
    // join in too). Identity rows (canonicalId == entityId — the
    // overwhelming majority of the corpus) carry nothing the probe
    // can't infer: a missing id is its own root. Delta ids are
    // disjoint from stored ids and from the log's keys, so they
    // resolve to themselves. Probe IO is therefore O(non-identity
    // rows), i.e. proportional to merge density, not corpus size. The
    // map is delta-sized and serves both the pair graph and the edges
    // append, so it is cached for the tail's duration.
    val touchedRows = deltaExtractRows + 2 * deltaLinkRows
    val touched = SkewJoin.hinted(deltaTriples
      .select(Linking.idCol($"pred", $"obj").as("entityId"))
      .unionByName(deltaLinks.select($"src".as("entityId")))
      .unionByName(deltaLinks.select($"dst".as("entityId"))), touchedRows)
    val stored = Snapshots.read(spark, runDir, "assign")
      .filter(!$"ident".cast("boolean")) // partition-pruned slice
      .select($"entityId", $"canonicalId")
    val log =
      if (!hadDirtyLog) None
      else Some(Snapshots.read(spark, runDir, CanonLogStage)
        .select("oldRoot", "newRoot"))
    val roots = log.fold(stored.join(touched, Seq("entityId"), "left_semi")) {
      l => stored
        .unionByName(l.select($"oldRoot".as("entityId"),
          $"oldRoot".as("canonicalId")))
        .join(touched, Seq("entityId"), "left_semi")
        .join(SkewJoin.hinted(l.toDF("canonicalId", "newRoot"),
          Snapshots.readManifest(runDir, CanonLogStage).rows),
          Seq("canonicalId"), "left")
        .select($"entityId",
          coalesce($"newRoot", $"canonicalId").as("canonicalId"))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    // `df` plus column `out`: the current root of its id column `id`
    def rooted(df: DataFrame, id: String, out: String): DataFrame =
      df.join(SkewJoin.hinted(roots.toDF(id, "r0"), touchedRows), Seq(id),
        "left").withColumn(out, coalesce($"r0", col(id))).drop("r0")

    // --- 2. connected components of the component-pair graph. Its
    // min-id roots are the global ones: an old root is the minimum of
    // its component, so the minimum over representatives is the
    // minimum over all members. The CC result = (id, comp) for every
    // representative whose root moved: an old root merged away (not a
    // delta id), or a delta id joined to a component rooted elsewhere.
    val pairs = rooted(rooted(deltaLinks.select("src", "dst"), "src", "a"),
      "dst", "b").select($"a".as("src"), $"b".as("dst"))
    val cc = ConnectedComponents.run(pairs, cfg.ccLocalThreshold,
      edgeCountHint = Some(deltaLinkRows))
    def movedTo(id: String) = SkewJoin.hinted(
      cc.assignments.toDF(id, "comp"), 2 * deltaLinkRows)
    // the CC result tagged: isNew null = an old root merged away
    val moved = cc.assignments.join(SkewJoin.hinted(
        newEnts.select($"entityId".as("id"), lit(true).as("isNew")),
        deltaExtractRows), Seq("id"), "left")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = moved.agg(count(when($"isNew".isNull, 1)).as("merges"),
      count($"isNew").as("movedNew")).head()
    val merges = counts.getLong(0)
    // delta ids that stayed roots (a new logical node each)
    val newRoots = deltaRowsOf(runDir, "entities", runId) - counts.getLong(1)

    val appendParts = Snapshots.appendFiles(deltaExtractRows)
    val tailMetrics = Map(
      "ccIterations" -> cc.iterations.toString,
      "merges" -> merges.toString,
      "delta" -> "append")

    // --- 3. the delta's rows at their final canonicals, columns in
    // the full run's read-back order; cb (if any) with the stored
    // tables' own stamp. assign's ident partition column carries its
    // READ-BACK type (string), as Snapshots.stageAppend requires.
    val deltaAssign = newEnts.join(movedTo("entityId"), Seq("entityId"), "left")
      .select($"pred", $"obj", $"norm", $"entityId",
        coalesce($"comp", $"entityId").as("canonicalId"))
    val assignApp = withCb(deltaAssign, bucketsOf(runDir, "assign"))
      .withColumn("ident",
        ($"canonicalId" === $"entityId").cast("string"))
      .repartition(appendParts)
    val nodesApp = withCb(nodeTableFull(deltaAssign),
        bucketsOf(runDir, "nodes"))
      .repartition(appendParts).sortWithinPartitions($"kind")
    val edgesApp = withCb(rooted(deltaTriples.withColumn("entityId",
        Linking.idCol($"pred", $"obj")), "entityId", "r")
      .join(movedTo("r"), Seq("r"), "left")
      .withColumn("canonicalId", coalesce($"comp", $"r"))
      .select(EdgeCols.map(col): _*), bucketsOf(runDir, "edges"))
      .repartition(appendParts).sortWithinPartitions($"pred")

    // captured BEFORE the appends publish: the live nodes manifest is
    // about to gain this delta's constituent rows
    val prevLogical =
      if (hadDirtyLog)
        Snapshots.readManifest(runDir, CanonLogStage)
          .metrics("logicalNodes").toLong
      else Snapshots.readManifest(runDir, "nodes").rows

    // --- 4. publish the three appends CONCURRENTLY: each touches ONLY
    // its own stage, so the three narrow publish jobs overlap instead
    // of serializing three rounds of write + commit + footer latency.
    // ANY partially-published subset rolls back on retry.
    def append(st: String, partBy: Seq[String], app: DataFrame): Unit =
      Snapshots.stageAppend(spark, runDir, st, runId, partBy, tailMetrics ++
        bucketsOf(runDir, st).map("canonBuckets" -> _.toString) +
        ("defer" -> "true"))(app)
    parallelRun(Seq(
      () => append("assign", Seq("ident"), assignApp),
      () => append("nodes", Nil, nodesApp),
      () => append("edges", Nil, edgesApp)))

    // --- 5. the canon log, LAST (commit record). Compressed
    // single-hop: prior targets re-resolve through this ingest's
    // components, so a reader never follows a chain. The logical node
    // count (stored node ROWS over-count merged components until the
    // next fold): previous logical count, plus delta ids that stayed
    // roots, minus old roots merged away.
    val mergedAway = moved.filter($"isNew".isNull)
      .select($"id".as("oldRoot"), $"comp".as("newRoot"))
    val fullLog = log.fold(mergedAway)(l => l
      .join(movedTo("newRoot"), Seq("newRoot"), "left")
      .select($"oldRoot", coalesce($"comp", $"newRoot").as("newRoot"))
      .unionByName(mergedAway))
    Snapshots.stage(spark, runDir, CanonLogStage, runId,
      resume = false,
      metrics = tailMetrics ++ Map("dirty" -> "true",
        "logicalNodes" -> (prevLogical + newRoots - merges).toString)) {
      fullLog.coalesce(1)
    }
    roots.unpersist(false); moved.unpersist(false)
    // deferMerges = false folds at once: the graph a full rewrite gives
    val foldFrac = if (cfg.deferMerges) cfg.compactAppendFrac else Some(0.0)
    foldFrac.foreach(compactTail(spark, runDir, runId, _))
    cc.iterations
  }

  /** Fold maintenance for the merge-on-read tail tables (see
    * Config.compactAppendFrac): when any of assign/nodes/edges has
    * append rows reaching `frac` of the table, or the dirty canon log
    * reaches `frac` of assign, fold the tables into fresh full
    * snapshots with the log applied and clear the log. A fold
    * republishes in the layout of a full run (assign by `ident`,
    * nodes/edges unpartitioned and clustered by kind/pred). Idempotent
    * per runId
    * (a crash between folds re-folds all three on retry; a re-run
    * after all folds is a no-op). Returns the stages folded.
    */
  def compactTail(spark: SparkSession, runDir: String, runId: String,
                  frac: Double): Seq[String] = {
    import org.apache.spark.sql.DataFrame
    val stages = Seq("assign", "nodes", "edges")
    if (!stages.forall(Snapshots.isComplete(runDir, _))) return Nil
    val dirty = canonLogDirty(runDir)
    def over(st: String): Boolean = {
      val m = Snapshots.readManifest(runDir, st)
      val (appendRows, _) = Snapshots.appendStats(m)
      m.rows > 0 && appendRows.toDouble / m.rows >= frac
    }
    // the dirty log is read-tax mass too: it broadcasts into every
    // resolving read, so it counts toward the trigger
    val logOver = dirty && {
      val lm = Snapshots.readManifest(runDir, CanonLogStage)
      val am = Snapshots.readManifest(runDir, "assign")
      am.rows > 0 && lm.rows.toDouble / am.rows >= frac
    }
    // folds are ALL-OR-NOTHING: applying a dirty log to one table
    // while the others stay log-resolved would mix canonical spaces.
    // (A crash between the folds and the log-clear below is harmless:
    // re-resolving an already-folded table is a no-op — the log's keys
    // no longer appear as canonicalIds.)
    if (!stages.exists(over) && !logOver) return Nil

    def resolveIf(st: String, d: DataFrame): DataFrame =
      if (!dirty) d
      else {
        val b = bucketsOf(runDir, st)
        st match {
          case "nodes" => resolveNodesFrame(spark, runDir, d, b)
          case "assign" =>
            // a remapped row's canonical is no longer itself
            resolveCanon(spark, runDir, d, b).withColumn("ident",
              (col("canonicalId") === col("entityId")).cast("string"))
          case _ => resolveCanon(spark, runDir, d, b)
        }
      }
    val shapes: Map[String, DataFrame => DataFrame] = Map(
      "assign" -> (d => resolveIf("assign", d)),
      "nodes" -> (d => resolveIf("nodes", d).sortWithinPartitions(col("kind"))),
      "edges" -> (d => resolveIf("edges", d).sortWithinPartitions(col("pred"))))
    // the folds publish DISJOINT stages from already-published inputs
    // — run them concurrently, same shape and crash contract as the
    // tail-append parallel publish in mergeOnReadTail (a crashed
    // subset re-folds on retry while the log is still dirty)
    def fold(st: String): Unit = {
      val m = Snapshots.readManifest(runDir, st)
      val (appendRows, sets) = Snapshots.appendStats(m)
      // carry the canonBuckets stamp: the next ingest's O(delta)
      // precondition reads canonBuckets off the live manifest
      val keep = m.metrics.view
        .filterKeys(Set("canonBuckets", "epoch")).toMap
      Snapshots.compact(spark, runDir, st, runId,
        if (st == "assign") Seq("ident") else Nil,
        keep ++ Map("appendRowsFolded" -> appendRows.toString,
          "appendSetsFolded" -> sets.toString))(shapes(st))
      (): Unit
    }
    parallelRun(stages.map(st => () => fold(st)))
    clearCanonLog(spark, runDir, runId)
    stages
  }

  /** LINEAGE maintenance: the pinned-ingest path unions a stage's
    * last full version plus every delta appended since — after K
    * ingests that is a K-way union read (and a K-manifest sum) per
    * ingest, a plan/driver term that grows with INGEST COUNT.
    * Consolidating the union into a fresh FULL version resets the
    * lineage to length 1 (lineageVersions anchors at the last full),
    * and the folded-in versions expire.
    *
    * Crash-retry safety: a lineage delta is foldable ONLY when its
    * ingest COMMITTED (see [[committedRuns]]). Folding an uncommitted
    * slice — the
    * in-flight ingest's, or a FOREIGN ingest that crashed mid-append
    * and will retry — would break both oldUnion's excludeRunId and
    * appendOnce's idempotence key for that retry (its forms would
    * ride the consolidated full and re-derive as "already existing",
    * silently dropping its link edges). A stage holding any
    * uncommitted delta is skipped this round; it folds once the
    * crashed ingest retries (or stays unfolded, which is correct —
    * the state genuinely contains an incomplete ingest). Corollary:
    * expire edges/canon-log HISTORY only after lineage consolidation
    * has covered those runs, or their commit records become
    * unprovable and their deltas stay unfoldable. The consolidation
    * itself publishes under "<runId>-maint" (never an ingest runId,
    * so excludeRunId can never drop it), and a retry first expires
    * anything a crashed consolidation left superseded.
    */
  def compactLineage(spark: SparkSession, runDir: String, runId: String,
                     maxDeltas: Int): Seq[String] = {
    // extract is deliberately NOT here: its versions are disjoint
    // corpus slices under union-of-ALL-versions semantics (no delta
    // marker), so lineageVersions would anchor at the newest slice
    // and the cleanup pass would expire the rest of the corpus
    val stages = Seq("entities", "link_edges", "ep_shingles", "ep_keys")
    val committed = committedRuns(runDir)
    stages.filter(Snapshots.isComplete(runDir, _)).flatMap { st =>
      // cleanup pass (also the crash-retry of this function): expire
      // versions a previous consolidation superseded
      val lv = lineageVersions(runDir, st)
      Snapshots.versions(runDir, st).filterNot(lv.contains)
        .reverse.foreach(v => Snapshots.expire(runDir, st, v))
      val uncommitted = lv.tail.exists { v =>
        val r = Snapshots.readManifestVersion(runDir, st, v).runId
        r == runId || !committed.contains(r)
      }
      if (uncommitted || lv.length - 1 < maxDeltas) None
      else {
        val df = lineageUnion(spark, runDir, st)
        Snapshots.stage(spark, runDir, st, s"$runId-maint",
          resume = false, metrics = Map("compacted" -> "true",
            "lineageFolded" -> lv.length.toString))(df)
        lv.reverse.foreach(v => Snapshots.expire(runDir, st, v))
        Some(st)
      }
    }
  }

  // ---- deferred-merge canon log (merge-on-read; Config.deferMerges)
  // A tiny compressed remap table: every canonical root a later merge
  // absorbed → its current root, SINGLE-HOP (each ingest rewrites the
  // whole log, which is bounded by merges-since-last-fold, so readers
  // never chain). `dirty` marks unresolved state; folds and the
  // global recomputes (run / runIncremental) clear it.
  private[graft] val CanonLogStage = "canon_log"

  /** The ingest commit record: runIds with a published canon-log
    * version (the merge-on-read tail's last publish) or an edges
    * version WITHOUT the defer marker (a global recompute's). A
    * deferred edges append alone is the crash window before the log.
    */
  private[graft] def committedRuns(runDir: String): Set[String] = {
    def runs(stage: String, counts: Snapshots.Manifest => Boolean) =
      Snapshots.versions(runDir, stage)
        .map(Snapshots.readManifestVersion(runDir, stage, _))
        .collect { case m if counts(m) => m.runId }
    (runs(CanonLogStage, _ => true) ++ runs("edges",
      !_.metrics.get("defer").contains("true"))).toSet
  }

  /** Publishes a clean, empty canon log once its remaps are applied
    * physically (a fold or a global recompute), or readers would keep
    * re-resolving and the next deferred ingest compose stale remaps.
    */
  private def clearCanonLog(spark: SparkSession, runDir: String,
                            runId: String): Unit =
    if (canonLogDirty(runDir)) {
      import spark.implicits._
      Snapshots.stage(spark, runDir, CanonLogStage, runId,
        resume = false, metrics = Map("dirty" -> "false")) {
        Seq.empty[(Long, Long)].toDF("oldRoot", "newRoot")
      }
      (): Unit
    }

  private[graft] def canonLogDirty(runDir: String): Boolean =
    Snapshots.isComplete(runDir, CanonLogStage) &&
      Snapshots.readManifest(runDir, CanonLogStage)
        .metrics.get("dirty").contains("true")

  private def canonLogDf(spark: SparkSession, runDir: String) = {
    import spark.implicits._
    Snapshots.read(spark, runDir, CanonLogStage)
      .select($"oldRoot".as("canonicalId"), $"newRoot")
  }

  /** Resolve a frame's canonicalId through the dirty log (broadcast
    * join — the log is merges-since-fold small), recomputing cb when
    * the table carries canonical buckets `b`.
    */
  private def resolveCanon(spark: SparkSession, runDir: String,
                           df: DataFrame, b: Option[Int]): DataFrame = {
    val cols = df.columns
    withCb(df.join(broadcast(canonLogDf(spark, runDir)), Seq("canonicalId"),
        "left")
      .withColumn("canonicalId",
        coalesce(col("newRoot"), col("canonicalId"))), b)
      .select(cols.map(col): _*)
  }

  /** The canonical buckets of a stage's live snapshot (None = no cb). */
  private def bucketsOf(runDir: String, stage: String): Option[Int] =
    Snapshots.readManifest(runDir, stage).metrics.get("canonBuckets")
      .map(_.toInt)

  /** Appends cb = pmod(canonicalId, B) as the last column when the
    * table has canonical buckets: the only layout step B decides.
    */
  private def withCb(df: DataFrame, b: Option[Int]): DataFrame =
    b.fold(df)(v => df.withColumn("cb",
      pmod(col("canonicalId"), lit(v.toLong)).cast("int")))


  /** CURRENT canonical nodes. With no dirty canon log this is the
    * stored snapshot verbatim; under deferred merges it resolves
    * stale canonicals through the log and re-aggregates rows sharing
    * a resolved root (constituent rows + per-ingest delta
    * contributions — the node schema was designed to combine
    * associatively: argmin (norm, form) pair, min kind, summed
    * memberCount). The merge-on-read read tax: one broadcast join +
    * one groupBy of the nodes table, until the next fold makes the
    * stored rows 1:1 again.
    */
  def readNodes(spark: SparkSession, runDir: String): DataFrame = {
    val raw = Snapshots.read(spark, runDir, "nodes")
    if (!canonLogDirty(runDir)) raw
    else resolveNodesFrame(spark, runDir, raw, bucketsOf(runDir, "nodes"))
  }

  /** The nodes-resolving combine: resolve roots through the log, then
    * aggregate rows sharing a resolved root (cb recomputed when the
    * table carries canonical buckets `b`).
    */
  private def resolveNodesFrame(spark: SparkSession, runDir: String,
                                raw: DataFrame, b: Option[Int]): DataFrame = {
    import spark.implicits._
    withCb(raw
      .join(broadcast(canonLogDf(spark, runDir)), Seq("canonicalId"),
        "left")
      .withColumn("rc", coalesce($"newRoot", $"canonicalId"))
      .groupBy($"rc".as("canonicalId"))
      .agg(min(struct($"canonicalNorm".as("norm"),
        $"canonical".as("obj"))).as("m"),
        min($"kind").as("kind"), sum($"memberCount").as("memberCount"))
      .withColumn("canonical", $"m.obj")
      .withColumn("canonicalNorm", $"m.norm")
      .select(NodeCols.map(col): _*), b)
  }

  /** CURRENT canonical edges: stored snapshot, with stale
    * canonicalIds resolved through the dirty log (broadcast join,
    * no aggregation — edge rows are 1:1 triples).
    */
  def readEdges(spark: SparkSession, runDir: String): DataFrame = {
    val raw = Snapshots.read(spark, runDir, "edges")
    if (!canonLogDirty(runDir)) raw
    else resolveCanon(spark, runDir, raw, bucketsOf(runDir, "edges"))
  }

  /** Rows this runId appended to `stage` (0 when none): the sum over
    * this runId's snapshot versions' manifest rows. Lineage folds
    * publish under "<runId>-maint", so they can never be counted as an
    * ingest's own delta.
    */
  private def deltaRowsOf(runDir: String, stage: String,
                          runId: String): Long =
    versionsBy(runDir, stage, runId)
      .map(Snapshots.readManifestVersion(runDir, stage, _).rows).sum

  /** The versions of `stage` published under `runId`. */
  private def versionsBy(runDir: String, stage: String,
                         runId: String): Seq[Int] =
    Snapshots.versions(runDir, stage).filter(v =>
      Snapshots.readManifestVersion(runDir, stage, v).runId == runId)

  /** Append a DELTA snapshot version, idempotent per runId: a
    * crash-retry that already published this ingest's slice reads it
    * back instead of appending a duplicate.
    */
  private def appendOnce(spark: SparkSession, runDir: String,
                         stage: String, runId: String,
                         extraMetrics: Map[String, String] = Map.empty)
                        (compute: => DataFrame): DataFrame = {
    versionsBy(runDir, stage, runId).headOption match {
      case Some(v) => Snapshots.readVersion(spark, runDir, stage, v)
      case None => Snapshots.stage(spark, runDir, stage, runId,
        resume = false,
        metrics = Map("delta" -> "true") ++ extraMetrics)(compute)
    }
  }

  /** The drift measurement behind Config.maxCensusDrift (see the call
    * site in [[runIncrementalPinned]]). Returns 0.0 for an ingest with
    * no fuzzy delta shingles.
    */
  private def censusDrift(spark: SparkSession, runDir: String, cfg: Config,
                          hot: Seq[(String, Long)], deltaShingled: DataFrame,
                          deltaExtractRows: Long): Double = {
    import spark.implicits._
    val deltaSh = deltaShingled
      .select($"pred", explode($"shingles").as("sh")).distinct()
    val freshCap = cfg.link.stopShingleCap(lineageRows(runDir, "entities"))
    val stored = lineageUnion(spark, runDir, "ep_shingles")
    val dfs = stored.select($"pred", explode($"shingles").as("sh"))
      .join(SkewJoin.hinted(deltaSh, deltaExtractRows), Seq("pred", "sh"))
      .groupBy($"pred", $"sh")
      .agg(count(lit(1)).cast("double").as("df"))
    val pinnedDf = hot.toDF("pred", "sh").withColumn("hp", lit(true))
    val row = dfs.join(broadcast(pinnedDf), Seq("pred", "sh"), "left")
      .select((($"df" > lit(freshCap.toDouble)) =!=
        coalesce($"hp", lit(false))).as("differs"))
      .agg(count(lit(1)).as("n"), sum($"differs".cast("long")).as("d"))
      .head()
    if (row.getLong(0) == 0L) 0.0
    else row.getLong(1).toDouble / row.getLong(0).toDouble
  }

  /** Versions forming the current lineage of an appendable stage: the
    * last FULL (non-delta) version and every delta appended after it.
    * A stage that has only ever been globally recomputed has a
    * single-element lineage (its latest version).
    */
  private def lineageVersions(runDir: String, stage: String): Seq[Int] = {
    val vs = Snapshots.versions(runDir, stage)
    if (vs.isEmpty) return Nil
    // a lineage MUST be anchored by a full (non-delta) version: if the
    // base snapshot was expire()d while delta appends remain, falling
    // back to the oldest delta would silently drop the entire
    // pre-delta corpus from every union — fail fast instead
    val lastFull = vs.filter(v =>
      !Snapshots.readManifestVersion(runDir, stage, v)
        .metrics.get("delta").contains("true")).lastOption.getOrElse(
        throw new IllegalStateException(
          s"stage '$stage' in $runDir has only delta versions ($vs) — " +
            "its full base snapshot was expired; the lineage union " +
            "would silently drop the pre-delta corpus"))
    vs.filter(_ >= lastFull)
  }

  /** Rows of a stage's current lineage, summed from its manifests. */
  private def lineageRows(runDir: String, stage: String): Long =
    lineageVersions(runDir, stage)
      .map(Snapshots.readManifestVersion(runDir, stage, _).rows).sum

  private def lineageUnion(spark: SparkSession, runDir: String,
                           stage: String,
                           excludeRunId: Option[String] = None): DataFrame =
    lineageVersions(runDir, stage)
      .filter(v => !excludeRunId.contains(
        Snapshots.readManifestVersion(runDir, stage, v).runId))
      .map(v => Snapshots.readVersion(spark, runDir, stage, v))
      .reduce(_ unionByName _)

  /** Stages 2–4 (entities → link edges → canonicalize → materialize):
    * everything downstream of the content scan, over narrow tables
    * only. Shared verbatim by [[run]] and [[runIncremental]].
    */
  private def downstream(spark: SparkSession, runDir: String,
                         runId: String, cfg: Config,
                         triples: DataFrame, resume: Boolean): Int = {
    import spark.implicits._

    // Stage 2a — entity surface forms
    val ents = Snapshots.stage(spark, runDir, "entities", runId, resume) {
      Linking.entities(triples.as[Triple])
    }

    // Stage 2b — link edges (exact-norm + LSH candidates + scoring).
    // The fuzzy-presence probe runs against the MATERIALIZED entities
    // snapshot (narrow, already on storage, limit-1 semantics) — not
    // against live extraction lineage, which would re-run the content
    // scan. It lives INSIDE the stage block so a resumed run (stage
    // manifest already present) never pays the probe job.
    // the shingle scratch table only lives for the duration of the
    // stage compute (the stage snapshot is durable before we return),
    // so the run-owned scratch dir is deleted afterwards — a
    // long-running ingest loop (kgIngestStream, repeated
    // runIncremental) would otherwise leak one corpus-sized parquet
    // table per ingest. Caller-supplied scratch dirs are caller-owned.
    val ownScratch = cfg.link.scratchDir.isEmpty
    val scratch = s"$runDir/_scratch/link_edges"
    val links = try {
      Snapshots.stage(spark, runDir, "link_edges", runId, resume) {
        val fuzzyNonEmpty =
          !ents.filter(col("pred").isin(Linking.FuzzyPreds: _*)).isEmpty
        // shared shingle table materialized once under the run dir
        // (read 4x by the link plans; see Linking.sharedShingles)
        // unless the caller already chose a scratch location
        val linkCfg =
          if (cfg.link.scratchDir.isDefined) cfg.link
          else cfg.link.copy(scratchDir = Some(scratch))
        Linking.linkEdges(ents, linkCfg, Some(fuzzyNonEmpty),
          sizeHint = Some(Snapshots.readManifest(runDir, "entities").rows))
      }
    } finally if (ownScratch) Snapshots.deleteDir(scratch)

    canonicalize(spark, runDir, runId, cfg, triples, ents, links, resume)
  }

  /** Stages 3–4 (canonicalize → materialize) of the global paths
    * ([[run]]/[[runIncremental]] via [[downstream]]): global CC and a
    * full rewrite of assign/nodes/edges.
    */
  private def canonicalize(spark: SparkSession, runDir: String,
                           runId: String, cfg: Config,
                           triples: DataFrame, ents: DataFrame,
                           links: DataFrame, resume: Boolean): Int = {
    import spark.implicits._
    // Stage 3 — connected components → canonical id per entity.
    // Singleton entities (no link edge) canonicalize to themselves.
    var ccIters = 0
    // one layout whatever canonBuckets is: nodes/edges unpartitioned,
    // kind / pred CLUSTERED inside each file via sortWithinPartitions
    // (low-cardinality predicates still skip via row-group stats; file
    // counts follow each stage's own shuffle). Canonical buckets only
    // add cb as the last column (withCb); no reader filters on cb.
    val cbMetrics = cfg.canonBuckets.map("canonBuckets" -> _.toString).toMap
    // partitioned by `ident` (canonical == self) so the edges stage can
    // read the small non-identity DELTA slice partition-pruned, and
    // count it from the manifest's partition-dir lineage with no job
    val assign = Snapshots.stage(spark, runDir, "assign", runId, resume,
      partitionBy = Seq("ident"),
      metrics = Map("ccIterations" -> ccIters.toString) ++ cbMetrics) {
      // exact edge count for free from the link_edges lineage
      // manifests: CC's path decision then costs no count job and no
      // raw-edge cache (see ConnectedComponents.run's edgeCountHint)
      val (a, iters) = assignCanonical(ents, links,
        ccLocalThreshold = cfg.ccLocalThreshold,
        edgeCountHint = Some(lineageRows(runDir, "link_edges")))
      ccIters = iters
      withCb(a, cfg.canonBuckets)
        .withColumn("ident", $"canonicalId" === $"entityId")
    }

    // Stage 4a — nodes (shared nodeTable logic; the snapshot keeps the
    // canonicalNorm argmin column so comp merges recombine, see
    // nodeTableFull).
    def nodesStage(): Unit = {
      Snapshots.stage(spark, runDir, "nodes", runId, resume,
        metrics = cbMetrics) {
        withCb(nodeTableFull(assign), cfg.canonBuckets)
          .sortWithinPartitions($"kind")
      }
      (): Unit
    }

    // Stage 4b — edges: triples rewritten onto canonical ids via the
    // canonical DELTA map. Only entities whose canonical id DIFFERS
    // from their own id need rewriting — a small fraction at any scale
    // (12.5% of 2.0M at the 200k-file bench; most entities are
    // unlinked singletons), and most of those never shrink the
    // fraction below what broadcast can hold until the corpus is huge.
    // Left-join the pruned ident=false slice and coalesce: when the
    // delta fits the broadcast cap this stage shuffles NOTHING of the
    // triple side (skew-immune by construction); beyond the cap it
    // degrades to a left shuffle join against the delta — still
    // strictly smaller than the full 1:1 map the previous design
    // joined (AQE covers hub-entity skew there).
    def edgesStage(): Unit = {
      Snapshots.stage(spark, runDir, "edges", runId, resume,
        metrics = cbMetrics) {
      val withId = triples.withColumn("entityId", Linking.idCol($"pred", $"obj"))
      val deltaRows = Snapshots.readManifest(runDir, "assign").fileRows
        .collect { case (f, n) if f.contains("ident=false/") => n }.sum
      val delta = assign.filter(!$"ident".cast("boolean"))
        .select($"entityId", $"canonicalId")
      withCb(withId.join(SkewJoin.hinted(delta, deltaRows), Seq("entityId"),
          "left")
        .withColumn("canonicalId", coalesce($"canonicalId", $"entityId"))
        .select(EdgeCols.map(col): _*), cfg.canonBuckets)
        .sortWithinPartitions($"pred")
      }
      (): Unit
    }

    // nodes and edges both derive from the PUBLISHED assign snapshot
    // and publish disjoint stages — run the two narrow materializations
    // concurrently (same shape and crash contract as the tail-append
    // parallel publish in mergeOnReadTail: resume re-checks
    // each stage's own manifest, so any crashed subset heals)
    parallelRun(Seq(() => nodesStage(), () => edgesStage()))

    // everything was recomputed from source, so any deferred-merge
    // canon log is now fully applied
    clearCanonLog(spark, runDir, runId)
    ccIters
  }

  /** All counts come from stage manifests (no recount jobs); the
    * quarantine split falls out of the q= partition-dir keys in the
    * extract manifests' per-file lineage. Extract counts SUM across
    * snapshot versions (a full run has one; each incremental ingest
    * appends one); entities/link_edges sum their current LINEAGE
    * (one full version after a global relink; full + disjoint delta
    * appends under a pinned epoch); assign/nodes/edges are always
    * globally recomputed, so their latest manifest IS the global
    * count.
    */
  private def resultFrom(runDir: String, runId: String,
                         ccIters: Int): Result = {
    val extractManifests = Snapshots.versions(runDir, "extract")
      .map(v => Snapshots.readManifestVersion(runDir, "extract", v))
    val rawRows = extractManifests.map(_.rows).sum
    val quarantined = extractManifests.flatMap(_.fileRows.collect {
      case (f, n) if f.startsWith("q=true/") => n
    }).sum
    Result(
      runId = runId,
      triples = rawRows - quarantined,
      quarantined = quarantined,
      entities = lineageRows(runDir, "entities"),
      linkEdges = lineageRows(runDir, "link_edges"),
      // under deferred merges the stored node ROWS over-count merged
      // components; the canon log's manifest carries the exact
      // logical count by driver arithmetic
      nodes = if (canonLogDirty(runDir))
        Snapshots.readManifest(runDir, CanonLogStage)
          .metrics("logicalNodes").toLong
      else Snapshots.readManifest(runDir, "nodes").rows,
      edges = Snapshots.readManifest(runDir, "edges").rows,
      ccIterations = ccIters
    )
  }
}
