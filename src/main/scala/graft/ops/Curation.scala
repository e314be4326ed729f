package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the composition every
  * pretraining data pipeline runs before a token ever reaches a
  * trainer, expressed as one declarative DataFrame chain so Catalyst
  * sees (and optimizes) the whole thing:
  *
  *   1. exact dedup (keep the lowest-id row per md5(text));
  *   2. Gopher repetition filter ([[TextOps.repetitionMetrics]]);
  *   3. benchmark decontamination (drop docs sharing >= `minOverlap`
  *      word n-grams with the held-out eval set, [[Dedup.contaminated]]);
  *   4. deterministic stratified mixture sampling
  *      ([[Sampling.stratifiedSample]]);
  *   5. train/val/test split ([[Sampling.splitAssign]]);
  *   6. concat-and-chunk packing into `budget`-token context windows
  *      per (split, stratum) ([[Sampling.packSequences]]).
  *
  * Scale shape, stage by stage: (1) one shuffle on the 16-byte digest;
  * (2) shuffle-free codegen'd array exprs; (3) eval n-grams broadcast,
  * the flagged-id set is tiny so the anti-join broadcasts too — the
  * corpus is never shuffled on text; (4)+(5) shuffle-free md5
  * thresholds; (6) one range shuffle on (split, stratum, order) plus
  * the two-phase distributed prefix sum ([[Sampling.packSequences]] —
  * parallelism = partition count, never #groups). Every stage is
  * deterministic (hash decisions, not rand()),
  * so a re-run — or an incremental ingest that re-curates a grown
  * corpus — reproduces the survivors bit-identically.
  */
object Curation {

  /** `benchFilter` marks held-out eval docs (they are REMOVED from the
    * training corpus and used only as the decontamination reference).
    * Returns one row per surviving training doc:
    * (id, stratum, split, n_tokens, start_tok, first_bin, last_bin).
    */
  /** Stages 1-2 — exact dedup (keep the lowest-id row per md5(text)
    * in ONE shuffle) + Gopher repetition filter. The repetition
    * predicate LET-BINDS the word array as a transform() lambda
    * variable instead of referencing a projected alias: predicate
    * pushdown substitutes aliases into filter conditions with no
    * cost check (PushPredicateThroughNonJoin/replaceAlias), which
    * would inline split(text) into every element_at/filter lambda —
    * O(words²) re-splits per row, measured 10× on this chain. A
    * lambda binding is a runtime value; the optimizer cannot
    * duplicate it. Output = (id, stratum, text, n_tokens).
    */
  /** The exact-dedup ranking window of stage 1 — ONE definition shared
    * by [[cleanStage]] (production path) and [[funnel]] (its
    * observability view), so the two can never silently diverge.
    */
  private def dedupWindow(id: String, text: String)
  : org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(text))).orderBy(col(id))

  /** The Gopher repetition keep-predicate of stage 2, let-bound (see
    * the alias-inlining note on [[cleanStage]]) — shared by
    * [[cleanStage]] and [[funnel]] for the same no-drift reason.
    */
  private def repetitionKeep(maxTopWordFrac: Double,
                             maxDup2GramFrac: Double,
                             text: String): Column =
    element_at(
      transform(array(TextOps.words(col(text))), ws => {
        val (topFrac, dup2) = TextOps.repetitionMetrics(ws)
        topFrac <= maxTopWordFrac && dup2 <= maxDup2GramFrac
      }), 1)

  private[ops] def cleanStage(corpus: DataFrame,
                              maxTopWordFrac: Double,
                              maxDup2GramFrac: Double,
                              id: String, text: String,
                              strata: String): DataFrame = {
    val deduped = corpus
      .withColumn("__rn", row_number().over(dedupWindow(id, text)))
      .filter(col("__rn") === 1).drop("__rn")
    deduped.filter(repetitionKeep(maxTopWordFrac, maxDup2GramFrac, text))
      .select(col(id), col(strata), col(text),
        size(TextOps.words(col(text))).cast("long").as("n_tokens"))
  }

  /** Stage 3 — decontamination: anti-join against the ids flagged by
    * [[Dedup.contaminated]] (the flagged set is small, so AQE
    * broadcasts the anti-join; the corpus is never shuffled on text).
    *
    * INVARIANT: [[funnel]] flags the UN-cleaned corpus and ANDs the
    * flag with the clean flag, which equals this stage only while the
    * flag is per-doc against broadcast bench n-grams (OpsSpec pins the
    * equality). Swap in a corpus-dependent operator here (say, a
    * census or caps derived from the corpus) and funnel must change in
    * lockstep.
    */
  private[ops] def deconStage(clean: DataFrame, bench: DataFrame,
                              contamN: Int, contamMinOverlap: Long,
                              id: String, text: String): DataFrame = {
    val flagged = Dedup.contaminated(clean, bench, n = contamN,
      minOverlap = contamMinOverlap, id = id, text = text)
      .select(col(id))
    clean.join(flagged, Seq(id), "left_anti")
  }

  /** Stages 4-6 — hash sampling, split assignment, and packing.
    * Needs only (id, stratum, n_tokens); text is gone by here.
    */
  private[ops] def packStage(decon: DataFrame,
                             rates: Map[String, Double],
                             defaultRate: Double,
                             splits: Seq[(String, Double)],
                             budget: Long,
                             id: String, strata: String): DataFrame = {
    val sampled = Sampling.stratifiedSample(
      decon, col(id), col(strata), rates, defaultRate)
    val split = Sampling.splitAssign(sampled, col(id), splits)
    val toks = split.select(col(id), col(strata), col("split"),
      col("n_tokens"))
    Sampling.packSequences(toks,
        struct(col("split"), col(strata)), col(id),
        col("n_tokens"), budget)
      .select(col(id), col(strata), col("split"), col("n_tokens"),
        col("start_tok"), col("first_bin"), col("last_bin"))
  }

  def curate(docs: DataFrame,
             benchFilter: Column,
             rates: Map[String, Double],
             defaultRate: Double,
             splits: Seq[(String, Double)],
             budget: Long,
             contamN: Int = 3,
             contamMinOverlap: Long = 5L,
             maxTopWordFrac: Double = 0.2,
             maxDup2GramFrac: Double = 0.9,
             id: String = "doc_id",
             text: String = "text",
             strata: String = "source"): DataFrame = {
    val clean = cleanStage(docs.filter(!benchFilter),
      maxTopWordFrac, maxDup2GramFrac, id, text, strata)
    val decon = deconStage(clean, docs.filter(benchFilter),
      contamN, contamMinOverlap, id, text)
    packStage(decon, rates, defaultRate, splits, budget, id, strata)
  }

  /** Snapshotted, resumable curation run — the spark-submit shape of
    * [[curate]], mirroring the KG pipeline's checkpoint contract:
    * each stage publishes a versioned parquet snapshot with a
    * per-partition lineage manifest ([[graft.store.Snapshots]]), and
    * a re-run with `resume = true` replays completed stages from
    * storage (a killed run resumes mid-chain; every stage decision is
    * hash-deterministic, so resumed and fresh runs are
    * bit-identical). NO stage snapshot materializes document text:
    * cur_clean and cur_decon carry only (id, stratum, n_tokens) —
    * downstream stages never touch document bodies, and the run's
    * write volume is rows × ~24 bytes instead of the corpus size.
    */
  def run(spark: org.apache.spark.sql.SparkSession,
          docs: DataFrame, runDir: String, runId: String,
          benchFilter: Column,
          rates: Map[String, Double],
          defaultRate: Double,
          splits: Seq[(String, Double)],
          budget: Long,
          contamN: Int = 3,
          contamMinOverlap: Long = 5L,
          maxTopWordFrac: Double = 0.2,
          maxDup2GramFrac: Double = 0.9,
          id: String = "doc_id",
          text: String = "text",
          strata: String = "source",
          resume: Boolean = true): DataFrame = {
    import graft.store.Snapshots

    // Every stage manifest carries the parameters that produced it,
    // and a resumed run REFUSES a snapshot built under different
    // parameters: without this, `run(dir, threshold=0.3)` after
    // `run(dir, threshold=0.2)` would silently serve the old
    // thresholds' output (the curation twin of the rand()-split
    // leakage class — stale-config reuse).
    def stage(name: String, params: Map[String, String])
             (compute: => DataFrame): DataFrame = {
      if (resume && Snapshots.isComplete(runDir, name)) {
        val m = Snapshots.readManifest(runDir, name)
        require(m.metrics == params,
          s"stage $name: snapshot in $runDir was built with " +
            s"${m.metrics} but this run asks for $params — " +
            "use a fresh runDir or resume = false")
      }
      Snapshots.stage(spark, runDir, name, runId, resume, params)(compute)
    }

    // common params every stage's output depends on: the eval-set
    // predicate (its Column expression string — a changed benchFilter
    // changes BOTH the corpus and the decontamination reference) and
    // the column bindings. Omitting these from the fingerprint was
    // the stale-config hole the guard exists to close.
    val common = Map(
      "benchFilter" -> benchFilter.toString,
      "id" -> id, "text" -> text, "strata" -> strata)

    // the cur_clean snapshot does NOT materialize document text — at
    // 100 TB that would be a corpus-sized parquet write per curation
    // run. Only (id, stratum, n_tokens) is snapshotted; the decon
    // stage re-derives its flagged set from the SOURCE table instead
    // (contamination is a per-doc decision against the broadcast eval
    // n-grams, so flagging the un-cleaned corpus and anti-joining the
    // clean survivors yields exactly the same rows as flagging the
    // survivors themselves — no text ever joins or shuffles).
    val clean = stage("cur_clean", common ++ Map(
      "maxTopWordFrac" -> maxTopWordFrac.toString,
      "maxDup2GramFrac" -> maxDup2GramFrac.toString)) {
      cleanStage(docs.filter(!benchFilter),
        maxTopWordFrac, maxDup2GramFrac, id, text, strata)
        .select(col(id), col(strata), col("n_tokens"))
    }
    val decon = stage("cur_decon", common ++ Map(
      "contamN" -> contamN.toString,
      "contamMinOverlap" -> contamMinOverlap.toString)) {
      val flagged = Dedup.contaminated(docs.filter(!benchFilter),
        docs.filter(benchFilter), n = contamN,
        minOverlap = contamMinOverlap, id = id, text = text)
        .select(col(id))
      clean.join(flagged, Seq(id), "left_anti")
    }
    stage("cur_packed", common ++ Map(
      "rates" -> rates.toSeq.sorted.mkString(";"),
      "defaultRate" -> defaultRate.toString,
      "splits" -> splits.mkString(";"),
      "budget" -> budget.toString)) {
      packStage(decon, rates, defaultRate, splits, budget, id, strata)
        .sortWithinPartitions("split")
    }
  }

  /** Funnel diagnostic: per-stage survivor counts as one DataFrame —
    * the observability view every curation run is judged by (how much
    * did each filter cost?).
    *
    * ONE PASS over the corpus (round-8 optimization): the naive
    * union-of-four-counts re-evaluated each stage's prefix — 4 corpus
    * scans, 3 dedup windows, 2 decontamination subtrees. Every stage
    * decision is a per-row PREDICATE over the deduped corpus (the
    * repetition filter and hash sampler are row-local; the
    * contamination flag is a per-doc decision against the broadcast
    * eval n-grams, so flagging the un-cleaned corpus and AND-ing with
    * the clean flag equals flagging the clean survivors — the same
    * argument [[run]] uses for its snapshot layout). So: compute the
    * three survival flags in one projection and take four conditional
    * aggregates in one job. Counts are identical to the staged
    * evaluation; only the pass count changes (4 scans → 1).
    */
  def funnel(docs: DataFrame,
             benchFilter: Column,
             rates: Map[String, Double],
             defaultRate: Double,
             contamN: Int = 3,
             contamMinOverlap: Long = 5L,
             maxTopWordFrac: Double = 0.2,
             maxDup2GramFrac: Double = 0.9,
             id: String = "doc_id",
             text: String = "text",
             strata: String = "source"): DataFrame = {
    val corpus = docs.filter(!benchFilter)
    val keepExpr = repetitionKeep(maxTopWordFrac, maxDup2GramFrac, text)
    val flagged = Dedup.contaminated(corpus, docs.filter(benchFilter),
        n = contamN, minOverlap = contamMinOverlap, id = id, text = text)
      .select(col(id), lit(true).as("__flag"))
    val marked = corpus
      .withColumn("__rn", row_number().over(dedupWindow(id, text)))
      .join(flagged, Seq(id), "left")
      .select(
        (col("__rn") === 1 && keepExpr).as("__clean"),
        (col("__rn") === 1 && keepExpr && col("__flag").isNull)
          .as("__decon"),
        Sampling.stratifiedKeep(col(id), col(strata), rates, defaultRate)
          .as("__samp"))
    marked.agg(
        count(lit(1)).as("n1"),
        coalesce(sum(when(col("__clean"), 1L).otherwise(0L)), lit(0L))
          .as("n2"),
        coalesce(sum(when(col("__decon"), 1L).otherwise(0L)), lit(0L))
          .as("n3"),
        coalesce(sum(when(col("__decon") && col("__samp"), 1L)
          .otherwise(0L)), lit(0L)).as("n4"))
      .select(explode(array(
        struct(lit("1_corpus").as("stage"), col("n1").as("n_rows")),
        struct(lit("2_clean").as("stage"), col("n2").as("n_rows")),
        struct(lit("3_decontaminated").as("stage"), col("n3").as("n_rows")),
        struct(lit("4_sampled").as("stage"), col("n4").as("n_rows"))))
        .as("r"))
      .select(col("r.stage").as("stage"), col("r.n_rows").as("n_rows"))
  }
}
