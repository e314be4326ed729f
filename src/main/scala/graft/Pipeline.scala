package graft

import graft.canon.ConnectedComponents
import graft.extract.Extraction
import graft.link.{Linking, SkewJoin}
import graft.store.Snapshots
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path, Paths}

/** The 4-stage KG-construction pipeline (north rule):
  *
  *   files ─repartitionByRange(repo,path)→
  *   [extract]  mapPartitions rule extractors → triples ∪ quarantine
  *   [link]     entities → fuzzy-form shingles (ep_shingles) →
  *              exact-norm + MinHash-LSH edges (link_edges)
  *   [canon]    connected components → the non-identity canonical
  *              map (assign: entityId → canonicalId, only where the
  *              two differ; every other entity is its own canonical)
  *   [materialize] node + edge tables, clustered by kind / pred
  *
  * Every stage boundary is a durable snapshot (Snapshots.stage) with a
  * manifest published last, in the order of [[Stages]] and then the
  * canon log (the commit record) — `run` with resume=true skips any
  * stage whose manifest exists, so a killed run resumes idempotently
  * mid-pipeline and downstream stages always read the durable parquet,
  * never live lineage. The shingle table is such a stage too: the link
  * stage, pinEpoch and every pinned ingest read it, and at every
  * committed state it equals Linking.shingleTable of the live
  * entities. After the base run, every ingest adds its slice to each
  * growing stage, extract included, as an append snapshot. No stage is
  * partitioned: each clusters its rows inside plain files.
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
      // CANONICAL BUCKETS (opt-in): when Some(B), the nodes / edges
      // snapshots gain a cb = pmod(canonicalId, B) int data column in
      // last position; that is all B does. It sets no
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
      // ingest, if the append rows of nodes or edges (or the canon
      // log's rows, against the entities) reach this fraction of the
      // table, assign/nodes/edges fold into fresh FULL snapshots with
      // the log applied (compactTail → Snapshots.compact — the Iceberg
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
      // Fold a lineage stage (entities / link_edges / ep_shingles /
      // ep_keys) into a fresh full snapshot whenever its append-set
      // count has reached this at the START of a pinned ingest (see
      // compactLineage). The append cascade already keeps the count
      // logarithmic in the ingest count; this caps it. Cost O(stage)
      // per fold. None = never.
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
    * concurrent-publish site: the tasks must touch DISJOINT stages. A
    * crash that published only a subset heals through the caller's
    * resume (run) or through the rollback every later writer starts
    * with (see [[rollbackUncommitted]]).
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

  /** The stages of a graph, in publish order (nodes and edges publish
    * concurrently).
    */
  val Stages: Seq[String] = Seq("extract", "entities", "ep_shingles",
    "link_edges", "assign", "nodes", "edges")

  /** The stages of a pinned epoch (see [[pinEpoch]]). */
  private[graft] val EpochStages = Seq("ep_census", "ep_keys")

  /** Stage-3 logic of the oracle-checked `kg_nodes_exact` query:
    * canonical id per entity via connected components over the link
    * edges; singleton entities (no link edge) canonicalize to
    * themselves. Returns (assignments, cc iterations).
    */
  def assignCanonical(ents: DataFrame, links: DataFrame,
                      ccLocalThreshold: Long =
                        ConnectedComponents.LocalEdgeThreshold,
                      edgeCountHint: Option[Long] = None): (DataFrame, Int) = {
    val (map, iters) = canonicalMap(links, ccLocalThreshold, edgeCountHint)
    (withCanonical(ents, map), iters)
  }

  /** The non-identity canonical map (entityId, canonicalId) of the link
    * graph — what CC computes, and all the `assign` stage stores — and
    * the CC iterations.
    */
  private def canonicalMap(links: DataFrame, ccLocalThreshold: Long,
                           edgeCountHint: Option[Long]): (DataFrame, Int) = {
    val cc = ConnectedComponents.run(links,
      localThreshold = ccLocalThreshold, edgeCountHint = edgeCountHint)
    (cc.assignments.toDF("entityId", "canonicalId"), cc.iterations)
  }

  /** `ents` with each entity's canonicalId: its `map` row's, or itself. */
  private def withCanonical(ents: DataFrame, map: DataFrame): DataFrame =
    ents.join(map, Seq("entityId"), "left")
      .select(col("pred"), col("obj"), col("norm"), col("entityId"),
        coalesce(col("canonicalId"), col("entityId")).as("canonicalId"))

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

    // after an ingest (an APPEND extract), run()'s resume would take a
    // crashed ingest's uncommitted slices for finished stages: that
    // ingest recovers by re-running with its runId, never through run().
    // A recompute deletes every version, so only a resume is refused.
    if (resume && Snapshots.isComplete(runDir, "extract"))
      require(Snapshots.readManifest(runDir, "extract").baseFiles.isEmpty,
        s"$runDir has incremental extract versions — re-run a crashed " +
          "ingest with its runId (runIncremental or runIncrementalPinned), " +
          "or start a fresh runDir")

    // a recompute (resume=false) starts from an empty lineage: the
    // prior run's stages go (else extract would append to the prior
    // run's), and so does any pinned epoch and canon log — they
    // describe the PREVIOUS run's graph, so a later pinned ingest fails
    // fast until pinEpoch re-freezes. A pure resume leaves them alone.
    if (!resume)
      (Stages ++ EpochStages :+ CanonLogStage)
        .foreach(st => Snapshots.deleteDir(Snapshots.stageDir(runDir, st)))

    val triples = triplesOf(
      publishExtract(spark, files, runDir, runId, cfg, resume))
    val ccIters = downstream(spark, runDir, runId, cfg, triples, resume)
    resultFrom(runDir, runId, ccIters)
  }

  /** Stage 1 — extraction: a full `extract` snapshot on the first
    * publish into a run dir, an append of the slice
    * ([[Snapshots.stageAppend]]) on every ingest after it. Each publish
    * records the cumulative quarantine count (metric `quarantined`, the
    * Iceberg snapshot-summary shape, counted by an Observation during
    * the write), then the runId marker ([[committed]]), on a resume too.
    * repartitionByRange(repo, path) over the session's parallelism
    * gives deterministic per-partition lineage and co-locates each
    * repo's files (north star verbatim); the partition count is the
    * session's, not a knob.
    * Extract-stage layout choices are write-cost choices at 10^12
    * files:
    *  - subj ("repo/path") is derivable — dropped on write,
    *    re-derived on read by [[triplesOf]] (~15% fewer bytes, ~20%
    *    less write wall, in single-thread write A/Bs at 200k files);
    *  - unpartitioned, in the (repo, path) range order of the input
    *    (an append: clustered by that key). Quarantine rows are rows
    *    with pred [[Extraction.QuarantinePred]]: no reader lists them
    *    by path (their count is the manifest metric), so a directory
    *    per flag value would buy nothing, and its dynamic-partition
    *    write sorted every row.
    */
  private def publishExtract(spark: SparkSession,
                             files: Dataset[SourceFile], runDir: String,
                             runId: String, cfg: Config,
                             resume: Boolean): DataFrame = {
    // the first publish into a run dir is full; every ingest appends
    val prev = if (resume || !Snapshots.isComplete(runDir, "extract")) None
      else Some(quarantinedOf(Snapshots.readManifest(runDir, "extract")))
    val obs = Observation()
    lazy val rows = Extraction.extract(files.repartitionByRange(
        spark.sparkContext.defaultParallelism, col("repo"), col("path")),
        cfg.extraction).toDF()
      .drop("subj").observe(obs, count_if(
        col("pred") === lit(Extraction.QuarantinePred)).as(QuarantinedKey))
    // a write whose plan ran no task (no input rows) observes nothing
    def metrics = Map(QuarantinedKey -> (prev.getOrElse(0L) +
      obs.get.getOrElse(QuarantinedKey, 0L).asInstanceOf[Long]).toString)
    val out =
      if (prev.isEmpty) Snapshots.stage(spark, runDir, "extract", runId,
        resume, metrics)(rows)
      else Snapshots.stageAppend(spark, runDir, "extract", runId,
        Seq("repo", "path"), metrics)(rows)
    val m = Snapshots.readManifest(runDir, "extract")
    Snapshots.writeAtomic(runMarker(runDir, m.runId), m.version.toString)
    out
  }

  /** The triples of extract rows: quarantine rows dropped, subj
    * re-derived.
    */
  private def triplesOf(raw: DataFrame): DataFrame =
    raw.filter(col("pred") =!= lit(Extraction.QuarantinePred))
      .withColumn("subj", concat(col("repo"), lit("/"), col("path")))

  /** Incremental ingest: extract ONLY `newFiles` (the content scan —
    * the cost that dominates at 10^12 files — never re-reads old
    * corpus bytes) as an append to the extract snapshot, then
    * recompute the narrow downstream stages (entities, link edges,
    * canonicalization, node/edge tables — ~1% of the corpus bytes)
    * over the whole extract (one read). Each ingest version-
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
    * full(A ∪ B) on nodes, edges, and counts. Crash-retry follows the
    * commit protocol (see [[alreadyCommitted]]).
    */
  def runIncremental(spark: SparkSession, newFiles: Dataset[SourceFile],
                     runDir: String, runId: String,
                     cfg: Config = Config()): Result = {
    if (alreadyCommitted(runDir, runId)) return resultFrom(runDir, runId, 0)

    publishExtract(spark, newFiles, runDir, runId, cfg, resume = false)

    // a global relink is an EPOCH BUMP: the frozen census and keys
    // derive from the pre-ingest corpus and are stale the moment
    // entities / link_edges are globally recomputed — drop them so a
    // later runIncrementalPinned fails fast until pinEpoch re-freezes
    // (ep_shingles is a graph stage: downstream republishes it)
    EpochStages
      .foreach(st => Snapshots.deleteDir(Snapshots.stageDir(runDir, st)))

    val ccIters = downstream(spark, runDir, runId, cfg,
      triplesOf(Snapshots.read(spark, runDir, "extract")), resume = false)
    resultFrom(runDir, runId, ccIters)
  }

  // ------------------------------------------------------------------
  // EPOCH-PINNED incremental linking. runIncremental's global relink
  // buys exact from-scratch equality at the cost of recomputing the
  // narrow tables per ingest — at daily ingests over 10^12 files the
  // relink, not the extract, becomes THE cost (the stop-shingle
  // census, shingling, banding, and candidate scoring all rescan the
  // corpus). An EPOCH freezes the census (Linking.Config.pinnedHot)
  // and stores the banded-key table beside the graph's shingle table,
  // both appendable snapshots; each ingest then:
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
    * epoch: the stop-shingle census (ep_census) and the banded key
    * table (ep_keys), each a versioned snapshot under the run dir, both
    * computed from the live shingle table (ep_shingles) at the current
    * cap. Call after Pipeline.run or a global runIncremental.
    *
    * Re-pinning over a dir whose link_edges lineage already carries
    * delta appends BLENDS censuses (old edges were scored under the
    * previous census) — still precision-1.0 (every edge is an exact
    * Jaccard ≥ threshold), but the spec'd from-scratch-under-census
    * equality only holds for epochs pinned right after a GLOBAL
    * relink. The crash-heal path in Streaming.ingestBatch accepts the
    * blend deliberately (availability over the recall fine print).
    *
    * The previous epoch's stages go first, so a pin that crashed
    * part-way leaves an incomplete epoch, which a pinned ingest
    * refuses until pinEpoch re-runs, never a mix of two epochs.
    */
  def pinEpoch(spark: SparkSession, runDir: String, runId: String,
               cfg: Config = Config()): Unit = {
    import spark.implicits._
    requireBase(runDir)
    EpochStages
      .foreach(st => Snapshots.deleteDir(Snapshots.stageDir(runDir, st)))
    // cap from the entity manifest rows — the SAME n convention the
    // global link stage uses (sizeHint = entities manifest rows), so
    // an epoch pinned right after a global run freezes EXACTLY the
    // census that run linked under (pinned-vs-base coherence; an
    // upper bound only raises the cap, same contract as linkEdges)
    val nEnts = Snapshots.readManifest(runDir, "entities").rows
    val cap = cfg.link.stopShingleCap(nEnts)
    val shingled = Snapshots.read(spark, runDir, "ep_shingles")
    val hot = Linking.hotShingles(shingled, cap)
    // ep_census and ep_keys both derive from (shingled, hot) and
    // publish disjoint stages — overlap the two publishes
    parallelRun(Seq(
      () => {
        Snapshots.stage(spark, runDir, "ep_census", runId, resume = false,
          metrics = Map("cap" -> cap.toString, "nEnts" -> nEnts.toString)) {
          hot.toDF("pred", "sh")
        }
        (): Unit
      },
      () => {
        Snapshots.stage(spark, runDir, "ep_keys", runId, resume = false) {
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
    * Each lineage stage gains this ingest's slice as an append
    * snapshot ([[Snapshots.stageAppend]]), and the merge-on-read
    * tail's canon log commits them all; crash-retry follows the commit
    * protocol (see [[alreadyCommitted]]).
    */
  def runIncrementalPinned(spark: SparkSession,
                           newFiles: Dataset[SourceFile],
                           runDir: String, runId: String,
                           cfg: Config = Config()): Result = {
    import spark.implicits._
    if (alreadyCommitted(runDir, runId)) return resultFrom(runDir, runId, 0)
    EpochStages.foreach(st =>
      require(Snapshots.isComplete(runDir, st),
        s"no pinned epoch in $runDir — run Pipeline.pinEpoch first"))

    // lineage maintenance BEFORE this ingest appends anything
    cfg.maxLineageDeltas.foreach(compactLineage(spark, runDir, runId, _))

    // 1. delta-only extract
    val deltaTriples = triplesOf(
      publishExtract(spark, newFiles, runDir, runId, cfg, resume = false))
    // the rows of the slice `st` just published, from its manifest
    def sliceRows(st: String): Long =
      Snapshots.deltaRows(Snapshots.readManifest(runDir, st))
    val extractVersion = Snapshots.readManifest(runDir, "extract").version
    val deltaExtractRows = sliceRows("extract")

    // 2. delta entity forms — distinct forms of the delta not already
    // in the stored entity table (which is only scanned: the delta's
    // ids broadcast into the probe, the survivors anti-join a tiny
    // set). Broadcast hints only while the delta is small (bounded by
    // the delta extract's manifest rows). `entsOld` is planned from the
    // live manifest BEFORE the slice publishes: the world before this
    // ingest. Each lineage slice is clustered by the column its readers
    // filter or join on: pred (entities, ep_shingles), the band key
    // (ep_keys), src (link_edges).
    val entsOld = Snapshots.read(spark, runDir, "entities")
    val newEnts = Snapshots.stageAppend(spark, runDir, "entities", runId,
      Seq("pred")) {
      val deltaForms = Linking.entitiesOf(deltaTriples)
      val existing = entsOld
        .join(SkewJoin.hinted(deltaForms.select("entityId"), deltaExtractRows),
          Seq("entityId"))
        .select("entityId").distinct()
      deltaForms.join(SkewJoin.hinted(existing, deltaExtractRows),
        Seq("entityId"), "left_anti")
    }
    val newEntRows = sliceRows("entities")

    // 3. delta shingles + band keys under the PINNED census
    val hot = pinnedHot(spark, runDir)
    val deltaShingled = Snapshots.stageAppend(spark, runDir, "ep_shingles",
      runId, Seq("pred")) {
      Linking.shingleTable(newEnts)
    }

    // 3b. CENSUS DRIFT — what the frozen epoch is silently costing:
    // of the delta's distinct (pred, shingle) keys, the fraction whose
    // hot/stop classification DIFFERS between the pinned census and a
    // fresh census at the current corpus size (fresh cap = the cap a
    // global relink would use right now). A drifted-to-hot shingle
    // still blocks for the delta (extra candidates — cost, not
    // recall); a drifted-to-stop one means the pin keeps surfacing
    // candidates a fresh run would drop. Every delta key is priced with
    // its exact df, from one broadcast-filtered scan of the stored
    // shingle table (delta-bounded aggregate, map-side combined).
    // The metric lands in this ingest's ep_keys manifest; Config.
    // maxCensusDrift turns it into a refusal (recover by running the
    // SAME runId through runIncremental — the global relink, which
    // bumps the epoch — then pinEpoch).
    val tDrift0 = System.nanoTime()
    // an ingest with NO fuzzy delta shingles has drift 0 by definition
    // (the measured set is empty) — known for free from the slice's
    // manifest, so the measurement jobs are skipped outright instead
    // of aggregating empty frames
    val drift =
      if (sliceRows("ep_shingles") == 0L) 0.0
      else censusDrift(spark, runDir, cfg, hot, deltaShingled,
        deltaExtractRows)
    val driftSec = (System.nanoTime() - tDrift0) / 1e9
    cfg.maxCensusDrift.foreach { th =>
      require(drift <= th,
        f"census drift $drift%.4f exceeds maxCensusDrift $th%.4f — the " +
          s"pinned epoch is stale; re-pin: runIncremental(runId=$runId) " +
          "(global relink, bumps the epoch) then pinEpoch")
    }

    val deltaKeys = Snapshots.stageAppend(spark, runDir, "ep_keys", runId,
      Seq("key"), Map(
        "censusDrift" -> f"$drift%.6f", "driftSec" -> f"$driftSec%.2f")) {
      Linking.bandedKeyTable(deltaShingled, cfg.link, hot)
    }
    val deltaKeyRows = sliceRows("ep_keys")

    // 4. new edges = delta-vs-all (exact-norm + banded fuzzy), each
    // pair carrying >=1 delta endpoint — disjoint from stored edges.
    // A set, like the global stage's exact ∪ fuzzy union
    val deltaLinks = Snapshots.stageAppend(spark, runDir, "link_edges",
      runId, Seq("src")) {
      val keysAll = Snapshots.read(spark, runDir, "ep_keys")
      val shingledAll = Snapshots.read(spark, runDir, "ep_shingles")
      Linking.deltaExactEdges(entsOld, newEnts, deltaExtractRows)
        .unionByName(Linking.deltaFuzzyEdges(deltaKeys, keysAll,
          shingledAll, cfg.link, deltaKeyRows))
        .distinct()
    }
    val deltaLinkRows = sliceRows("link_edges")

    // 5. canonicalize + materialize: the O(delta) merge-on-read tail
    val ccIters = mergeOnReadTail(spark, runDir, runId, cfg, extractVersion,
      deltaTriples, newEnts, newEntRows, deltaLinks, deltaLinkRows,
      deltaExtractRows)
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
  // ids (a join against the stored non-identity map, assign — the same
  // probe-scan shape as the stored-key scans above — then against the
  // dirty canon log), run ConnectedComponents over the resulting
  // component-pair graph (its edge count picks the local union-find or
  // the distributed star fixpoint, the tail's only size decision), and
  // publish:
  //   assign/nodes/edges — APPEND-ONLY snapshots (Snapshots
  //            .stageAppend): the delta entities whose canonical is not
  //            themselves, the delta members' node aggregates, and the
  //            delta triples' edges. No stored row is rewritten, so
  //            rows naming a merged-away root stay stale;
  //   canon_log — the compressed single-hop remap of every root
  //            merged away since the last fold (old root → current
  //            root), published LAST and stamped with this ingest's
  //            extract version: the ingest's commit record.
  // A crash before the log leaves an uncommitted ingest, which the
  // next writer rolls back whole (see [[rollbackUncommitted]]).
  // Readers resolve stale canonicals through the log (readNodes /
  // readEdges); compactTail applies it physically past the fold
  // threshold. Per-ingest IO = a probe of the map + delta-sized
  // writes, whatever the merge count. Equality with a from-scratch run
  // is spec-gated (PipelineSpec, on both CC paths), and the path is
  // oracle-gated end to end (kg_nodes_pinned: a resolving read through
  // a dirty log; kg_nodes_deferred: after the fold).
  // ------------------------------------------------------------------

  /** Returns the CC iterations of the component-pair graph (0 on the
    * local path). The tail starts from the committed graph (the entry
    * rule rolled back anything above it), and its pair graph is
    * derived from that pre-ingest state.
    */
  private def mergeOnReadTail(spark: SparkSession, runDir: String,
                              runId: String, cfg: Config,
                              extractVersion: Int,
                              deltaTriples: DataFrame,
                              newEnts: DataFrame,
                              newEntRows: Long,
                              deltaLinks: DataFrame,
                              deltaLinkRows: Long,
                              deltaExtractRows: Long): Int = {
    import spark.implicits._
    val hadDirtyLog = canonLogDirty(runDir)

    // --- 1. the current root of every stored id the delta touches
    // (`roots`, non-identity ids only): its stored canonical from the
    // assign map, then through the dirty canon log (prior merges were
    // recorded, not rewritten; a merged-away root was a root, so it
    // has no map row, and the log's keys join in too). An id with no
    // row is its own root. Delta ids are disjoint from stored ids and
    // from the log's keys, so they resolve to themselves. Probe IO is
    // therefore O(map rows), i.e. proportional to merge density, not
    // corpus size. The result is delta-sized and serves both the pair
    // graph and the edges append, so it is cached for the tail's
    // duration.
    val touchedRows = deltaExtractRows + 2 * deltaLinkRows
    val touched = SkewJoin.hinted(deltaTriples
      .select(Linking.idCol($"pred", $"obj").as("entityId"))
      .unionByName(deltaLinks.select($"src".as("entityId")))
      .unionByName(deltaLinks.select($"dst".as("entityId"))), touchedRows)
    val stored = Snapshots.read(spark, runDir, "assign")
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
        // a fold that crashed before its log-clear left the log's pairs
        // in the map too: both rows of such a root resolve alike
        .distinct()
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
    val newRoots = newEntRows - counts.getLong(1)

    val tailMetrics = Map(
      "ccIterations" -> cc.iterations.toString,
      "merges" -> merges.toString)

    // --- 3. the delta's rows at their final canonicals, columns in
    // the full run's read-back order; cb (if any) with the stored
    // tables' own stamp. assign gains the moved delta ids, the map
    // rows of this ingest (an old root merged away goes to the log).
    val assignApp = moved.filter($"isNew".isNotNull)
      .select($"id".as("entityId"), $"comp".as("canonicalId"))
    val deltaAssign = withCanonical(newEnts,
      SkewJoin.hinted(assignApp, 2 * deltaLinkRows))
    val nodesApp = withCb(nodeTableFull(deltaAssign),
        bucketsOf(runDir, "nodes"))
    val edgesApp = withCb(rooted(deltaTriples.withColumn("entityId",
        Linking.idCol($"pred", $"obj")), "entityId", "r")
      .join(movedTo("r"), Seq("r"), "left")
      .withColumn("canonicalId", coalesce($"comp", $"r"))
      .select(EdgeCols.map(col): _*), bucketsOf(runDir, "edges"))

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
    // Any partially-published subset is uncommitted. Each append
    // is clustered like its stage's full snapshots: nodes by kind,
    // edges by pred; assign, a map probed by entityId, by that.
    def append(st: String, clusterBy: Seq[String], app: DataFrame): Unit = {
      Snapshots.stageAppend(spark, runDir, st, runId, clusterBy, tailMetrics ++
        bucketsOf(runDir, st).map("canonBuckets" -> _.toString) +
        ("defer" -> "true"))(app)
      (): Unit
    }
    parallelRun(Seq(
      () => append("assign", Seq("entityId"), assignApp),
      () => append("nodes", Seq("kind"), nodesApp),
      () => append("edges", Seq("pred"), edgesApp)))

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
    Snapshots.stage(spark, runDir, CanonLogStage, runId, resume = false,
      metrics = tailMetrics ++ Map("dirty" -> "true",
        ExtractVersionKey -> extractVersion.toString,
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
    * Config.compactAppendFrac): when nodes or edges has append rows
    * reaching `frac` of the table, or the dirty canon log reaches
    * `frac` of the entities, fold assign/nodes/edges into fresh full
    * snapshots with the log applied and clear the log, carrying its
    * stamp forward. A fold republishes in the layout of a full run
    * (nodes/edges clustered by kind/pred; assign the non-identity map,
    * the log's pairs included). Like every writer it first rolls back
    * an uncommitted ingest, so it folds committed appends only; a dir
    * with no committed base folds nothing. A crash between the folds
    * and the log-clear re-folds all three on the next call. Returns the
    * stages folded.
    */
  def compactTail(spark: SparkSession, runDir: String, runId: String,
                  frac: Double): Seq[String] = {
    val stages = Seq("assign", "nodes", "edges")
    val stamp = rollbackUncommitted(runDir)
    if (stamp.isEmpty) return Nil
    val dirty = canonLogDirty(runDir)
    // the map's append fraction says nothing of read tax: only the
    // tables every resolving read scans trigger a fold
    def over(st: String): Boolean = {
      val m = Snapshots.readManifest(runDir, st)
      val (appendRows, _) = Snapshots.appendStats(m)
      m.rows > 0 && appendRows.toDouble / m.rows >= frac
    }
    // the dirty log is read-tax mass too: it broadcasts into every
    // resolving read, so it counts toward the trigger
    val logOver = dirty && {
      val lm = Snapshots.readManifest(runDir, CanonLogStage)
      val em = Snapshots.readManifest(runDir, "entities")
      em.rows > 0 && lm.rows.toDouble / em.rows >= frac
    }
    // folds are ALL-OR-NOTHING: applying a dirty log to one table
    // while the others stay log-resolved would mix canonical spaces.
    // (A crash between the folds and the log-clear below is harmless:
    // re-resolving an already-folded table is a no-op — the log's keys
    // no longer appear as canonicalIds, and assign already holds
    // their rows.)
    if (!Seq("nodes", "edges").exists(over) && !logOver) return Nil

    def resolveIf(st: String, d: DataFrame): DataFrame =
      if (!dirty) d
      else st match {
        case "nodes" => resolveNodesFrame(spark, runDir, d, bucketsOf(runDir, st))
        case "assign" =>
          // a merged-away root was a root, so it has no map row: the
          // log's pair is its row. The anti-join keeps a re-fold after
          // a crash before the log-clear from adding it twice
          val log = canonLogDf(spark, runDir).toDF("entityId", "canonicalId")
          resolveCanon(spark, runDir, d, None)
            .unionByName(log.join(d, Seq("entityId"), "left_anti"))
        case _ => resolveCanon(spark, runDir, d, bucketsOf(runDir, st))
      }
    val shapes: Map[String, DataFrame => DataFrame] = Map(
      "assign" -> (d => resolveIf("assign", d)),
      "nodes" -> (d => resolveIf("nodes", d).sortWithinPartitions(col("kind"))),
      "edges" -> (d => resolveIf("edges", d).sortWithinPartitions(col("pred"))))
    // the folds publish DISJOINT stages from already-published inputs
    // — run them concurrently (a crashed subset re-folds on the next
    // call while the log is still dirty)
    def fold(st: String): Unit = {
      val m = Snapshots.readManifest(runDir, st)
      val (appendRows, sets) = Snapshots.appendStats(m)
      // carry the canonBuckets stamp: the next ingest's O(delta)
      // precondition reads canonBuckets off the live manifest
      val keep = m.metrics.view.filterKeys(Set("canonBuckets")).toMap
      Snapshots.compact(spark, runDir, st, runId,
        keep ++ Map("appendRowsFolded" -> appendRows.toString,
          "appendSetsFolded" -> sets.toString))(shapes(st))
      (): Unit
    }
    parallelRun(stages.map(st => () => fold(st)))
    if (dirty) commitClean(spark, runDir, runId, stamp.get, resume = false)
    stages
  }

  /** LINEAGE maintenance: a pinned ingest appends one set to each
    * lineage stage, and the append cascade keeps the set count
    * logarithmic in the ingest count. Every stage whose count has
    * reached `maxDeltas` folds into a fresh full snapshot
    * ([[Snapshots.compact]]), and the versions the fold superseded
    * expire.
    *
    * Like every writer it first rolls back an uncommitted ingest, so
    * every set it folds is committed; a dir with no committed base
    * folds nothing. A fold publishes under "<runId>-maint", which
    * names no extract version, so no rollback takes it back; what a
    * crashed fold left unexpired goes with the next fold.
    */
  def compactLineage(spark: SparkSession, runDir: String, runId: String,
                     maxDeltas: Int): Seq[String] = {
    if (rollbackUncommitted(runDir).isEmpty) return Nil
    // extract is deliberately NOT here: folding it would rewrite the
    // corpus-wide table, and no step parses its old versions any more
    val stages = Seq("entities", "link_edges", "ep_shingles", "ep_keys")
    stages.filter(Snapshots.isComplete(runDir, _)).flatMap { st =>
      val (_, sets) = Snapshots.appendStats(Snapshots.readManifest(runDir, st))
      if (sets < math.max(1, maxDeltas)) None
      else {
        Snapshots.compact(spark, runDir, st, s"$runId-maint",
          Map("appendSetsFolded" -> sets.toString))()
        // newest-first: an append version carries its predecessors' files
        val live = Snapshots.readManifest(runDir, st).version
        Snapshots.versions(runDir, st).filter(_ < live).reverse
          .foreach(Snapshots.expire(runDir, st, _))
        Some(st)
      }
    }
  }

  // ---- deferred-merge canon log (merge-on-read; Config.deferMerges)
  // A tiny compressed remap table: every canonical root a later merge
  // absorbed → its current root, SINGLE-HOP (each ingest rewrites the
  // whole log, which is bounded by merges-since-last-fold, so readers
  // never chain). `dirty` marks unresolved state; folds and the
  // global recomputes (run / runIncremental) publish a clean one.
  private[graft] val CanonLogStage = "canon_log"

  // ---- the COMMIT PROTOCOL: the store holds a committed prefix of
  // ingests plus at most one in-flight ingest. Every graph publish
  // (full run, global relink, merge-on-read tail, fold) ends with a
  // canon-log version stamped `extractVersion`, the newest extract
  // version the graph covers, so an extract version above the live
  // stamp is an ingest that crashed before its commit. Every writer
  // past the base run first rolls such an ingest back whole.
  private val ExtractVersionKey = "extractVersion"
  // extract's cumulative quarantine-row count (see publishExtract)
  private val QuarantinedKey = "quarantined"
  private def quarantinedOf(m: Snapshots.Manifest): Long =
    m.metrics(QuarantinedKey).toLong

  /** The live stamp (None: no canon log, so no committed base). */
  private def committedExtract(runDir: String): Option[Int] =
    if (!Snapshots.isComplete(runDir, CanonLogStage)) None
    else Some(Snapshots.readManifest(runDir, CanonLogStage)
      .metrics(ExtractVersionKey).toInt)

  /** The runId index: the extract version a runId published last. */
  private def runMarker(runDir: String, runId: String): Path =
    Paths.get(Snapshots.stageDir(runDir, "extract"),
      "_RUN." + java.net.URLEncoder.encode(runId, "UTF-8"))

  /** Whether `runId`'s extract version is at or below the live stamp:
    * one manifest and one marker read, whatever the ingest count.
    */
  private[graft] def committed(runDir: String, runId: String): Boolean =
    committedExtract(runDir).exists { s =>
      val p = runMarker(runDir, runId)
      Files.exists(p) && Files.readString(p).toInt <= s
    }

  /** Rolls back every runId of an extract version above the stamp (only
    * those versions are parsed): its marker goes first, so it cannot
    * outlive the reuse of its version number; then every stage whose
    * live version is such a runId's steps back ([[Snapshots.rollback]]),
    * extract LAST, so a crash mid-rollback leaves the runIds findable.
    * Returns the stamp (None: no committed base, nothing rolled back).
    */
  private[graft] def rollbackUncommitted(runDir: String): Option[Int] = {
    // read first: a run dir of another format is refused before anything
    val live = if (!Snapshots.isComplete(runDir, "extract")) 0
      else Snapshots.readManifest(runDir, "extract").version
    val stamp = committedExtract(runDir)
    stamp.foreach { s =>
      val open = (s + 1 to live).map(v =>
        Snapshots.readManifestVersion(runDir, "extract", v).runId).toSet
      open.foreach(r => Files.deleteIfExists(runMarker(runDir, r)))
      def rollBack(st: String): Unit =
        if (Snapshots.isComplete(runDir, st)) {
          val r = Snapshots.readManifest(runDir, st).runId
          if (open(r)) { Snapshots.rollback(runDir, st, r); rollBack(st) }
        }
      (Stages.tail ++ EpochStages :+ CanonLogStage :+ Stages.head)
        .foreach(rollBack)
    }
    stamp
  }

  /** [[rollbackUncommitted]], refusing a dir with no committed base. */
  private def requireBase(runDir: String): Unit =
    require(rollbackUncommitted(runDir).isDefined,
      s"no completed base graph in $runDir — resume its Pipeline.run first")

  /** The entry rule of both ingests: true when `runId` has committed
    * (a no-op). Otherwise [[requireBase]], so a crashed attempt re-runs
    * whole from the committed graph, its O(delta) extract included.
    */
  private def alreadyCommitted(runDir: String, runId: String): Boolean = {
    require(Snapshots.isComplete(runDir, "extract"),
      s"no completed prior run in $runDir — use Pipeline.run for the first ingest")
    committed(runDir, runId) || { requireBase(runDir); false }
  }

  /** Commits a graph with no remap left to resolve: a clean, empty
    * canon log stamped with `extractVersion`.
    */
  private def commitClean(spark: SparkSession, runDir: String,
                          runId: String, extractVersion: Int,
                          resume: Boolean): Unit = {
    import spark.implicits._
    Snapshots.stage(spark, runDir, CanonLogStage, runId, resume,
      metrics = Map("dirty" -> "false",
        ExtractVersionKey -> extractVersion.toString)) {
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
    val freshCap = cfg.link.stopShingleCap(
      Snapshots.readManifest(runDir, "entities").rows)
    val stored = Snapshots.read(spark, runDir, "ep_shingles")
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

    // Stage 2b — the shingle table of the fuzzy forms: read by the
    // link stage's census, blocking keys and both scoring sides, then
    // by pinEpoch and every pinned ingest. Published even when empty,
    // so its manifest rows decide whether there is fuzzy work at all.
    val shingled = Snapshots.stage(spark, runDir, "ep_shingles", runId,
      resume) {
      Linking.shingleTable(ents)
    }

    // Stage 2c — link edges (exact-norm + LSH candidates + scoring)
    val links = Snapshots.stage(spark, runDir, "link_edges", runId, resume) {
      val fuzzy = Snapshots.readManifest(runDir, "ep_shingles").rows > 0L
      Linking.linkEdges(ents, if (fuzzy) Some(shingled) else None, cfg.link,
        sizeHint = Some(Snapshots.readManifest(runDir, "entities").rows))
    }

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
    // Stage 3 — connected components → the non-identity canonical map.
    // Singleton entities (no link edge) and component roots
    // canonicalize to themselves and have no row: the map is the small
    // fraction of entities a link made non-canonical (12.5% of 2.0M at
    // the 200k-file bench), so every reader joins it whole.
    var ccIters = 0
    // one layout whatever canonBuckets is: nodes/edges unpartitioned,
    // kind / pred CLUSTERED inside each file via sortWithinPartitions
    // (low-cardinality predicates still skip via row-group stats; file
    // counts follow each stage's own shuffle). Canonical buckets only
    // add cb as the last column (withCb); no reader filters on cb.
    val cbMetrics = cfg.canonBuckets.map("canonBuckets" -> _.toString).toMap
    val assign = Snapshots.stage(spark, runDir, "assign", runId, resume,
      metrics = Map("ccIterations" -> ccIters.toString)) {
      // exact edge count for free from the link_edges manifest: CC's
      // path decision then costs no count job and no raw-edge cache
      // (see ConnectedComponents.run's edgeCountHint)
      val (map, iters) = canonicalMap(links, cfg.ccLocalThreshold,
        Some(Snapshots.readManifest(runDir, "link_edges").rows))
      ccIters = iters
      // clustered like the map's appends, so AQE sizes its files by
      // bytes: the local CC path's driver-side map would otherwise
      // write one file per core, which every probe then opens
      Snapshots.clustered(map, Seq("entityId"))
    }
    // the map, broadcast while its manifest rows fit the session's
    // threshold ([[SkewJoin.hinted]]): then neither materialization
    // shuffles its large side for the join (skew-immune by
    // construction); beyond it the join degrades to a left shuffle join
    // (AQE covers hub-entity skew there)
    val map = SkewJoin.hinted(assign,
      Snapshots.readManifest(runDir, "assign").rows)

    // Stage 4a — nodes (shared nodeTable logic; the snapshot keeps the
    // canonicalNorm argmin column so comp merges recombine, see
    // nodeTableFull).
    def nodesStage(): Unit = {
      Snapshots.stage(spark, runDir, "nodes", runId, resume,
        metrics = cbMetrics) {
        withCb(nodeTableFull(withCanonical(ents, map)), cfg.canonBuckets)
          .sortWithinPartitions($"kind")
      }
      (): Unit
    }

    // Stage 4b — edges: triples rewritten onto canonical ids via the
    // map: left-join it and coalesce (an entity with no row is its own
    // canonical).
    def edgesStage(): Unit = {
      Snapshots.stage(spark, runDir, "edges", runId, resume,
        metrics = cbMetrics) {
      val withId = triples.withColumn("entityId", Linking.idCol($"pred", $"obj"))
      withCb(withId.join(map, Seq("entityId"), "left")
        .withColumn("canonicalId", coalesce($"canonicalId", $"entityId"))
        .select(EdgeCols.map(col): _*), cfg.canonBuckets)
        .sortWithinPartitions($"pred")
      }
      (): Unit
    }

    // nodes and edges both derive from the PUBLISHED assign snapshot
    // and publish disjoint stages — run the two narrow materializations
    // concurrently (a resumed run re-checks each stage's own manifest,
    // so any crashed subset heals)
    parallelRun(Seq(() => nodesStage(), () => edgesStage()))

    // the commit record, LAST: a clean canon log (everything was
    // recomputed from source, so no remap is left to resolve) stamped
    // with the newest extract version, which this graph covers. A
    // resumed run that already published it skips it.
    commitClean(spark, runDir, runId,
      Snapshots.readManifest(runDir, "extract").version, resume)
    ccIters
  }

  /** All counts come from live stage manifests (no recount jobs): every
    * stage's live manifest counts its appends too, extract's carries the
    * cumulative quarantine count, and nodes is read from a dirty canon
    * log (below).
    */
  private def resultFrom(runDir: String, runId: String,
                         ccIters: Int): Result = {
    val extract = Snapshots.readManifest(runDir, "extract")
    val quarantined = quarantinedOf(extract)
    Result(
      runId = runId,
      triples = extract.rows - quarantined,
      quarantined = quarantined,
      entities = Snapshots.readManifest(runDir, "entities").rows,
      linkEdges = Snapshots.readManifest(runDir, "link_edges").rows,
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
