package graft.link

import graft.Triple
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Stage 2 — blocking-key entity linking.
  *
  * Mentions (distinct (pred, obj) surface forms from the triple set)
  * are linked into same-entity edge lists by two complementary paths:
  *
  *  1. exact-norm blocking: forms identical after normalization
  *     (lowercase, whitespace collapse, trailing dots stripped) link
  *     directly — a groupBy on the blocking key (pred, norm).
  *  2. MinHash-LSH candidates: 3-gram character shingles of the
  *     normalized form, stop shingles (df above a scale-free cap)
  *     removed, → hand-rolled min-xxhash64 band keys ([[RowsPerBand]]
  *     AND-amplified per band, OR across bands; pred folded into the
  *     key hash) bucketed on the single 8-byte band key, then each
  *     candidate pair SCORED with the exact set Jaccard over the
  *     true shingle sets inside a shuffle join (the sort-merge-join
  *     scoring phase of the north rule). Pairs with Jaccard ≥
  *     [[Threshold]] become edges (within-pred by construction of the
  *     bucket key).
  *
  * Absent from the reference (it has no linking at all — SURVEY.md §2
  * "relational-operator absences"); this is the new KG capability the
  * north rule adds. The fat `content` column never reaches this stage:
  * the input is the (subj, pred, obj) projection only, so Catalyst
  * prunes everything else at the triple-snapshot scan.
  */
object Linking {

  /** Predicates whose objects are fuzzy-linkable entity mentions; all
    * other predicates still get exact-norm linking (uniform path) but
    * skip the LSH join.
    */
  val FuzzyPreds: Seq[String] =
    Seq("mentions_domain", "references", "tagged", "imports")
  private[graft] def isFuzzy: Column = col("pred").isin(FuzzyPreds: _*)

  // The scoring and banding parameters are constants, not Config
  // fields: a graph stores shingle sets (entities' `shingles`) and a
  // pinned epoch band keys (Pipeline.pinEpoch) computed under them, and a
  // later ingest's delta keys only join those if it computes them under
  // the same values. The DuckDB twins hard-code the same 3-grams and 0.5.

  /** Min Jaccard similarity on [[ShingleSize]]-gram shingles. */
  val Threshold = 0.5
  /** Banding: `Bands` OR-amplified bands of `RowsPerBand`
    * AND-amplified minhashes. r>1 is what keeps candidate volume
    * near-linear on real corpora: entities sharing COMMON substrings
    * (every .org host shares the tld shingles) have pairwise J ≈
    * 0.1, and with r=1 each such pair collides per band with p=J —
    * a disguised all-pairs join (the same failure mode the round-2
    * RP-LSH had in cosine space). Measured on the 200k-file bench
    * fixture (466k fuzzy forms): r=3/b=16 still surfaced 35M noise
    * candidates from J≈0.08 shingle-sharing pairs; r=4 drops that
    * two orders (J⁴ ≈ 3.5e-5 per band) while true pairs (J ≥ 0.75)
    * collide at ≈ 0.37 per band, so 20 bands give per-pair recall
    * ≈ 1 - 1e-4. Borderline pairs follow the usual S-curve
    * (j=0.6 → ~94% recall); the exact-Jaccard re-score means
    * precision is always 1.0.
    */
  val Bands = 20
  val RowsPerBand = 4
  val ShingleSize = 3
  /** Seed of the minhash family behind the band keys. */
  val Seed = 42L

  final case class Config(
      // stop-shingle cap for candidate BLOCKING (scoring always uses
      // the full shingle sets): shingles present in more than
      // max(maxShingleDf, maxShingleDfFrac * |entities|) forms carry no
      // discriminative signal (tlds, separators) and only fill hot
      // blocks. Fraction-based because any finite shingle universe
      // saturates as the corpus grows — an absolute cap alone would
      // eventually mark EVERY shingle hot and silently drop all
      // candidates.
      maxShingleDf: Long = 1000L,
      maxShingleDfFrac: Double = 0.02,
      // fuzzy sets at or below this size take the exact shingle-block
      // join (all pairs sharing a non-stop shingle, exact-Jaccard
      // scored) — a strict superset of the banded candidate set with
      // the SAME scoring rule, so crossing the threshold only affects
      // recall of borderline candidates, never scores. Above it,
      // banding bounds the candidate blowup (the 100 TB path).
      exactSmallThreshold: Long = 20000L,
      // band buckets larger than this expand as a STAR around the
      // bucket's min id instead of the full clique: s members of one
      // band key are s forms agreeing on RowsPerBand minhashes — a
      // near-duplicate cluster whose C(s,2) clique pairs are ~all
      // redundant for connectivity (CC unions them anyway). The star
      // keeps a pathological bucket (mass-duplicated entity at web
      // scale) at s candidate pairs instead of s²; the only recall
      // cost is a member that scores below threshold against the
      // star center but at/above it against some other member —
      // possible only in huge borderline-J buckets, which the AND
      // amplification makes rare by construction. The cap ALSO bounds
      // executor memory: collect_list only ever aggregates buckets at
      // or below the cap (oversized buckets take the join-based star
      // path, which buffers nothing per key), so the largest
      // aggregation buffer is maxBandBucket longs (~80 KB at the
      // default) no matter how pathological the corpus.
      maxBandBucket: Int = 10000,
      // PINNED stop-shingle census: when set, blocking uses exactly
      // these (pred, shingleHash) stop shingles instead of running the
      // df census — the epoch contract of incremental linking
      // (Pipeline.pinEpoch): the census is corpus-dependent, so
      // freezing it is what makes a delta ingest's edges equal a
      // from-scratch run UNDER THE SAME CENSUS without rescanning the
      // corpus. None (default) = census computed from the input.
      pinnedHot: Option[Seq[(String, Long)]] = None
  ) {
    def stopShingleCap(nEntities: Long): Long =
      math.max(maxShingleDf, (maxShingleDfFrac * nEntities).toLong)
  }

  /** Normalized blocking form. */
  def normCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(lower(trim(c)), "\\s+", " "), "\\.+$", "")

  /** Stable 64-bit entity id of a surface form.
    *
    * COMBINED 64-BIT COLLISION BUDGET. Four xxhash64 keys stand in for
    * strings, and no run checks any of them for collisions:
    *  - idCol, over n distinct (pred, obj) forms: a collision makes two
    *    forms one entity;
    *  - the exact-norm block key xxhash64(pred, norm) of
    *    [[exactNormEdges]], over b ≤ n distinct blocks: a collision
    *    merges two norm blocks into false link edges that nothing
    *    re-scores;
    *  - the shingle hashes of [[withShingles]], over d distinct
    *    shingles per pred: a collision shifts a Jaccard score;
    *  - the band keys of [[bandedKeys]]: a collision only ADDS
    *    candidate pairs, which are scored exactly, so it costs time and
    *    never changes the output.
    * The three that can change the output have birthday odds of about
    * (n² + b² + d²) / 2⁶⁵, dominated by n: ~2e-7 at the 2M entities
    * of the 200k-file bench corpus, but a few percent at 10⁹ forms.
    * There the cheap hardening is to re-check norm equality on the
    * (small) blocks with more than one member. The DuckDB twins
    * recompute string identities, norm classes and Jaccard, and pin
    * no collision on the gate corpora.
    */
  def idCol(pred: org.apache.spark.sql.Column,
            obj: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    xxhash64(pred, lit("\u0000"), obj)

  /** Distinct entity surface forms: (pred, obj, norm, entityId, shingles);
    * `shingles` is a [[FuzzyPreds]] form's [[withShingles]] set, else null. */
  def entities(triples: Dataset[Triple]): DataFrame =
    entitiesOf(triples.toDF())

  /** Same over any frame with (pred, obj) columns — the entry point
    * for callers that assemble mention tables outside the typed
    * pipeline (e.g. the oracle-checked kg_nodes_exact query).
    */
  def entitiesOf(predObj: DataFrame): DataFrame =
    withShingles(predObj.select(col("pred"), col("obj")).distinct()
        .withColumn("norm", normCol(col("obj")))
        .withColumn("entityId", idCol(col("pred"), col("obj"))), ShingleSize)
      .withColumn("shingles", when(isFuzzy, col("shingles")))

  /** Same-entity edges (src, dst) over entityIds.
    *
    * `shingled`: the [[shingleTable]] of `ents`, or None when `ents`
    * has no fuzzy form. The stop-shingle census, the blocking keys and
    * both sides of the scoring join all read this one table, so a
    * materialized one (Pipeline's stored entities) pays the shingling
    * once; an unmaterialized one is recomputed per consumer.
    */
  def linkEdges(ents: DataFrame, shingled: Option[DataFrame],
                cfg: Config = Config(),
                sizeHint: Option[Long] = None): DataFrame = {
    val exact = exactNormEdges(ents, cfg)
    val spark = ents.sparkSession
    import spark.implicits._
    val fuzzy = shingled.fold(Seq.empty[(Long, Long)].toDF("src", "dst")) { sh =>
      // stop-shingle cap needs the fuzzy population size; an upper
      // bound (total entities from the stage manifest) only RAISES
      // the cap, i.e. keeps more shingles as blocking keys — safe.
      val n = sizeHint.getOrElse(sh.count())
      if (n <= cfg.exactSmallThreshold) exactJaccardEdges(sh, cfg, n)
      else lshEdges(sh, cfg, n)
    }
    exact.unionByName(fuzzy).distinct()
  }

  /** Path 1: link every form to the min-id form of its (pred, norm)
    * block. Block sizes are bounded (surface variants of one entity),
    * so the join is not skew-prone; AQE covers residual imbalance.
    *
    * The block key is xxhash64(pred, norm) (round 8), not the string
    * pair: both the aggregation and the join exchange every entity
    * row, and an 8-byte key replaces pred+norm strings (~40–80 B) in
    * the widest all-entities shuffles of the link stage. A 64-bit
    * collision would merge two unrelated norm blocks; see the
    * combined collision budget at [[idCol]].
    */
  private[link] def exactNormEdges(ents: DataFrame, cfg: Config): DataFrame = {
    val keyed = ents.select(
      xxhash64(col("pred"), col("norm")).as("bk"),
      col("entityId"))
    val mins = keyed.groupBy("bk")
      .agg(min("entityId").as("dst"), count(lit(1)).as("n"))
      .filter(col("n") > 1).drop("n")
    keyed.join(mins, Seq("bk"))
      .filter(col("entityId") =!= col("dst"))
      .select(col("entityId").as("src"), col("dst"))
  }

  /** One (entityId, key) row per band per form — the blocking table
    * both candidate generators bucket on. `pred` AND the band index
    * are FOLDED INTO the key hash (round 8) instead of riding every
    * banded row as separate columns: the census window and the bucket
    * groupBy used to sort/shuffle 20 rows per form keyed by
    * (pred:string, band, key), and the pred string was the widest,
    * most compare-expensive part of that key. Bucket semantics are unchanged — same-pred forms with equal
    * band signatures collide exactly as before; two buckets of
    * DIFFERENT preds merge only on a 64-bit collision, which can only
    * ADD candidate pairs (scored exactly downstream over the shingle
    * sets); see the combined collision budget at [[idCol]].
    */
  private def bandedKeys(shingled: DataFrame, cfg: Config,
                         n: Long): DataFrame = {
    val nHashes = Bands * RowsPerBand
    // all signatures in ONE codegen'd pass per row (MinHashSigs) —
    // the explode → groupBy → n×min(xxhash64) alternative shuffles
    // |shingles| rows per form and re-hashes every shingle n times.
    // Null signatures = empty blocking set (all-stop form): dropped,
    // mirroring the exact path's empty explode.
    val keys = withBlockShingles(shingled, cfg, n)
      .select(col("pred"), col("entityId"),
        graft.functions.MinHashSigs(col("bsh"), nHashes, Seed).as("sigs"))
      .filter(col("sigs").isNotNull)
    // band key = ONE xxhash64 over (band index, pred, the band's
    // RowsPerBand signatures) — the whole bucket identity in a single
    // 8-byte column, so the census sort/exchange and the bucket
    // groupBy key on one long (vs the round-7 pred string + band int
    // + 4-long struct). A 64-bit collision merges two unrelated
    // buckets — it can only ADD candidates (scored exactly
    // downstream), never drop one, so the recall analysis in
    // [[lshEdges]] is a lower bound either way.
    val bandKeys = (0 until Bands).map { b =>
      xxhash64(lit(b) +: col("pred") +: (0 until RowsPerBand).map(r =>
        col("sigs").getItem(b * RowsPerBand + r)): _*)
    }
    keys.select(col("entityId"),
        explode(array(bandKeys: _*)).as("key"))
  }

  /** Banded candidate pairs: grouped in-bucket expansion (groupBy band
    * key → sorted id list → pair explode) instead of a self-join's
    * two-sided shuffle + merge — measured 15–40% faster on the same
    * 8.9M-candidate workload with an identical candidate set (every
    * unordered in-bucket pair, src < dst).
    *
    * Two-phase so the [[Config.maxBandBucket]] star guard bounds
    * MEMORY as well as output (round-4 ADVICE): a cheap census pass
    * (min + count per band key — constant-size aggregation buffers)
    * splits buckets by size BEFORE anything is collected.
    *  - buckets ≤ maxBandBucket: clique pairs via sort_array ∘
    *    collect_list + two-level explode. The census filter runs ahead
    *    of the aggregation, so the largest possible collect_list
    *    buffer is maxBandBucket longs — a pathological bucket can no
    *    longer pin O(bucket) heap in one non-spillable buffer.
    *  - buckets > maxBandBucket: STAR around the bucket's min id,
    *    emitted directly from the member↔census join — s pairs instead
    *    of s², streamed with no per-key buffering at all.
    * The banded-keys table feeds both the census and the member join
    * on the SAME single-long key partitioning (pred and band folded
    * into the hash — see [[bandedKeys]]), so Catalyst reuses one
    * exchange; the
    * post-join groupBy inherits that partitioning and shuffles
    * nothing new. Candidate-set equality with the
    * single-phase formulation is pinned by LinkingCcSpec (star count,
    * subset, default-cap no-op).
    */
  private[graft] def lshCandidates(shingled: DataFrame, cfg: Config,
                                   n: Long): DataFrame = {
    val banded = bandedKeys(shingled, cfg, n)
    // census via WINDOW functions, not a groupBy+join: the aggregate
    // route puts a partial-agg between `banded` and its exchange, so
    // the join's probe side can't reuse that exchange and the whole
    // banded-keys subtree (minhash signatures — the expensive part)
    // runs twice, plus a sort-merge join (measured +67% on the stage,
    // interleaved A/B at 200k files). A whole-partition window needs
    // no partial agg: both union branches share ONE exchange of
    // `banded` (ReusedExchange), and WindowExec buffers one key group
    // at a time in a SPILLABLE row buffer — unlike a collect_list
    // aggregation buffer, a pathological bucket can spill to disk
    // instead of pinning O(bucket) heap.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key")
    val sized = banded
      .withColumn("center", min(col("entityId")).over(w))
      .withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") > 1)
    val star = sized
      .filter(col("bn") > cfg.maxBandBucket &&
        col("entityId") =!= col("center"))
      // center is the bucket min, so src < dst holds
      .select(col("center").as("src"), col("entityId").as("dst"))
    val clique = sized.filter(col("bn") <= cfg.maxBandBucket)
      .groupBy("key")
      .agg(sort_array(collect_list(col("entityId"))).as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "x")))
      .select(col("x"),
        explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("y"))
      // ids sorted ascending → x (earlier position) < y always
      .select(col("x").as("src"), col("y").as("dst"))
    star.unionByName(clique)
  }

  /** Distinct character k-shingles of the padded norm, computed with
    * codegen'd higher-order functions (no UDF), REPRESENTED by their
    * xxhash64 values (array<long>): every downstream consumer treats
    * shingles as opaque set elements (df census, band signatures, set
    * intersection/size), so an 8-byte hash carries the same
    * information as the 3-char string at a fraction of the shuffle
    * width, sort cost, and comparison cost in the engine's widest
    * stage. Jaccard over the hashed sets equals Jaccard over the
    * string sets unless two distinct shingles of one pred universe
    * collide in 64 bits — birthday odds ≈ d²/2⁶⁵ ≈ 7e-11 at d=50k
    * distinct shingles, and deterministic per corpus (see the
    * combined collision budget at [[idCol]]).
    * NB: rpad TRUNCATES strings longer than the target length — pad
    * only the genuinely short ones; array_distinct runs on the strings
    * (hashing preserves distinctness short of a collision).
    *
    * The hash array is SORTED at the source: every consumer treats it
    * as a set (sigs, census, array_except keep working), and the
    * scoring join's intersection count becomes a zero-allocation
    * linear merge ([[graft.functions.SortedIntersectCount]]) instead
    * of a per-pair hash-set build — sortedness is part of the stored
    * shingle-table contract (the entities' `shingles` column carries it).
    */
  private[graft] def withShingles(ents: DataFrame, k: Int): DataFrame =
    ents.withColumn("padded",
        when(length(col("norm")) < k, rpad(col("norm"), k, "_"))
          .otherwise(col("norm")))
      .withColumn("shingles", expr(
        s"sort_array(transform(array_distinct(transform(sequence(0, length(padded) - $k), i -> substring(padded, i + 1, $k))), s -> xxhash64(s)))"))
      .drop("padded")

  /** Adds `bsh`: the shingle array with STOP SHINGLES removed — the
    * blocking universe. A shingle present in more than `cap` same-pred
    * forms is a non-discriminative substring (tld, separator run)
    * whose block holds up to cap² candidate pairs of ~zero-Jaccard
    * noise. Scoring still runs on the full sets; the only recall cost
    * is pairs whose ENTIRE overlap is stop shingles — such pairs sit
    * far below any sane threshold unless their forms are nothing but
    * boilerplate. Both fuzzy paths block on this same universe, which
    * is what keeps the exact path a strict candidate superset of the
    * banded path.
    *
    * The hot set ([[hotShingles]] names its driver bound, ≈185 at the
    * 200k-file bench) is inlined as literal arrays: `array_except`
    * keeps the filter a pure map, where the previous exploded
    * anti-join shuffled every (form, shingle) row.
    */
  private def withBlockShingles(shingled: DataFrame, cfg: Config,
                                n: Long): DataFrame =
    removeStops(shingled,
      cfg.pinnedHot.getOrElse(
        hotShingles(shingled, cfg.stopShingleCap(n))))

  /** The stop-shingle census: every (pred, shingleHash) whose document
    * frequency exceeds `cap`. Collected to the driver — MATHEMATICALLY
    * tiny (Σ df over hot shingles ≤ Σ|shingles| ⇒ |hot| ≤
    * Σ|shingles| / cap). Public to the pipeline so an EPOCH can freeze
    * it ([[Config.pinnedHot]]).
    */
  private[graft] def hotShingles(shingled: DataFrame,
                                 cap: Long): Seq[(String, Long)] =
    // (pred, entityId) rows are distinct, so count(1) per (pred, sh)
    // is the document frequency
    shingled
      .select(col("pred"), explode(col("shingles")).as("sh"))
      .groupBy("pred", "sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select("pred", "sh").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Adds `bsh` = shingles minus the given stop set, as literal
    * `array_except` arrays — a pure map, no shuffle.
    */
  private def removeStops(shingled: DataFrame,
                          hot: Seq[(String, Long)]): DataFrame =
    if (hot.isEmpty) shingled.withColumn("bsh", col("shingles"))
    else {
      val byPred = hot.groupBy(_._1).map { case (p, v) => p -> v.map(_._2).toSeq }
      val filtered = byPred.foldLeft(col("shingles")) { case (acc, (p, shs)) =>
        when(col("pred") === p,
          array_except(col("shingles"), array(shs.map(lit): _*))).otherwise(acc)
      }
      shingled.withColumn("bsh", filtered)
    }

  /** Exact set-Jaccard scoring of candidate pairs over the TRUE
    * (unfiltered) shingle sets with the boundary-INCLUSIVE
    * `>= threshold` rule — the single scoring contract both fuzzy
    * paths share (the sort-merge-join scoring phase of the north
    * rule).
    */
  private def scorePairs(cand: DataFrame, shingled: DataFrame,
                         cfg: Config, shjHint: Boolean = false): DataFrame = {
    // join on entityId ALONE: candidates are within-pred by
    // construction (every generator buckets on pred), and entityId =
    // xxhash64(pred, obj) is unique per form, so the pred equi-term
    // added nothing but a string column riding the candidate exchange
    // — the widest shuffle of the link stage. Dropping it narrows the
    // candidate rows to (src, dst) 16 bytes and makes both join keys
    // single longs (idCol's combined 64-bit collision budget).
    val sets = shingled.select(col("entityId"), col("shingles"))
    // zero-allocation merge count over the sorted hash arrays (the
    // withShingles sortedness contract) — array_intersect would build
    // a hash set AND the intersection array per candidate pair
    val inter = graft.functions.SortedIntersectCount(
      col("sa.shingles"), col("sb.shingles")).cast("double")
    val uni = (size(col("sa.shingles")) + size(col("sb.shingles")))
      .cast("double") - inter
    // shjHint (scale path only): the build side of each scoring join
    // is the (entityId, shingles) table — orders of magnitude fewer
    // rows than the candidate stream, with per-partition build maps in
    // the MBs; sort-merge (the planner default above the broadcast
    // threshold) would SORT the multi-million-row candidate stream
    // twice for nothing. Measured at 200k files: linkEdges warm
    // 7.8 → 6.0 s. The hint is NOT applied on the small exact path,
    // where the sets table fits the broadcast threshold and a forced
    // shuffle would replace a broadcast join.
    def hinted(df: DataFrame): DataFrame =
      if (shjHint) df.hint("SHUFFLE_HASH") else df
    val pairs = cand.select(col("src"), col("dst"))
    pairs
      .join(hinted(sets.as("sa")), pairs("src") === col("sa.entityId"))
      .join(hinted(sets.as("sb")), pairs("dst") === col("sb.entityId"))
      .select(col("src"), col("dst"), (inter / uni).as("j"))
      .filter(col("j") >= Threshold)
      .select(col("src"), col("dst"))
  }

  /** Small-set fuzzy path: exact shingle-block join. Candidates = all
    * pairs of same-pred forms sharing at least one non-stop k-shingle
    * (a strict superset of what banding can surface), scored by
    * [[scorePairs]] on the full sets.
    */
  private[link] def exactJaccardEdges(shingled: DataFrame, cfg: Config,
                                      n: Long): DataFrame = {
    // explode of an empty filtered array yields no rows — all-stop
    // forms drop out of blocking, same as in the banded path
    val ex = withBlockShingles(shingled, cfg, n)
      .select(col("pred"), col("entityId"), explode(col("bsh")).as("sh"))
    // distinct over (src, dst) only: pred is functionally determined
    // by src (entityId hashes the pred), so the pair set is identical
    // and the distinct's exchange is a quarter narrower without the
    // string column
    val cand = ex.as("a").join(ex.as("b"),
        col("a.pred") === col("b.pred") && col("a.sh") === col("b.sh") &&
          col("a.entityId") < col("b.entityId"))
      .select(col("a.entityId").as("src"), col("b.entityId").as("dst"))
      .distinct()
    scorePairs(cand, shingled, cfg)
  }

  /** Scale fuzzy path: banded MinHash candidates — [[Bands]] compound
    * keys of [[RowsPerBand]] min-xxhash64 signatures over the stop-
    * filtered shingle sets (AND within a band, OR across bands; same
    * scheme as MLlib's MinHashLSH but with r>1, no fit step, and no TF
    * feature hashing), then [[scorePairs]] on the full sets. A pair
    * with filtered Jaccard j is surfaced with p = 1-(1-j^r)^b: at the
    * defaults, j=0.75 → 0.9997 while j=0.1 (forms sharing only a
    * common substring) → 0.016 — candidate volume stays ~linear in the
    * corpus instead of quadratic.
    */
  private[link] def lshEdges(shingled: DataFrame, cfg: Config,
                             n: Long): DataFrame = {
    // no distinct before scoring. True near-dup pairs collide in most
    // of the 20 bands, so candidates carry ~2× duplication (9.06M →
    // 4.46M distinct at 200k files), and halving the scoring join
    // looks tempting — but the same-JVM interleaved A/B (3
    // alternations, BENCH.md §0) reads raw 12.3s min vs
    // distinct-first 14.3s min: the extra full-width shuffle + dedup
    // of 9M rows costs more than the join rows it trims (the scoring
    // join's per-row work is one codegen'd array_intersect; the
    // arrays ride the SETS side, which shuffles identically either
    // way). The post-score distinct (tiny output) removes the repeats.
    val cand = lshCandidates(shingled, cfg, n)
    scorePairs(cand, shingled, cfg, shjHint = true).distinct()
  }

  // ------------------------------------------------------------------
  // EPOCH-INCREMENTAL entry points (Pipeline.runIncrementalPinned).
  // The graph's entity rows carry their shingle sets, and the entity
  // table is an appendable stage; an epoch freezes the stop-shingle
  // census and stores the banded-key table beside it. An ingest then
  // links ONLY delta-vs-all — the per-ingest work that touches the old
  // corpus is broadcast-filtered SCANS of those tables, never a
  // reshuffle or a re-shingling of the corpus.
  // ------------------------------------------------------------------

  /** The (pred, entityId, shingles) table of the [[FuzzyPreds]] forms
    * among `ents` (an [[entitiesOf]] frame, or the stored entities): a
    * projection that computes nothing, and the one input of every
    * fuzzy consumer ([[linkEdges]], the census, the banded keys).
    */
  private[graft] def shingleTable(ents: DataFrame): DataFrame =
    ents.filter(isFuzzy).select(col("pred"), col("entityId"), col("shingles"))

  /** Banded key table under an EXPLICIT (pinned) stop census — the
    * epoch artifact the incremental ingest appends a delta slice to.
    */
  private[graft] def bandedKeyTable(shingled: DataFrame, cfg: Config,
                                    hot: Seq[(String, Long)]): DataFrame =
    // n is only consulted when the census is computed; pinning skips it
    bandedKeys(shingled, cfg.copy(pinnedHot = Some(hot)), n = 0L)

  /** Fuzzy same-entity edges between DELTA forms and the whole corpus
    * under a pinned census: the delta's band keys join the stored
    * epoch key table (delta side broadcast when small, so the stored
    * table is SCANNED, never shuffled), candidate pairs are scored
    * exactly on the stored shingle table by the same [[scorePairs]]
    * contract as a full relink. Every emitted pair has ≥1 delta
    * endpoint, so the union with the stored edge set cannot
    * double-count. No star guard here: a delta form landing in a
    * pathological bucket costs |delta ∩ bucket| × bucket pairs — the
    * linear regime by construction (the guard exists to stop s² blowup
    * in FULL relinks; delta-vs-all is already ≤ |delta| × s).
    *
    * EQUALITY SCOPE: because the delta path scores delta-vs-all while
    * a from-scratch run restructures buckets above
    * [[Config.maxBandBucket]] into center stars (which, after exact
    * scoring, can MISS member↔member edges the delta path finds), the
    * spec'd pinned-ingest ≡ from-scratch-under-pinned-census equality
    * holds only for runs where no band bucket exceeds maxBandBucket.
    * In oversized buckets the delta path links a SUPERSET of pairs —
    * every one an exact Jaccard ≥ threshold (precision 1.0), so the
    * divergence is extra true merges, never a wrong edge.
    */
  private[graft] def deltaFuzzyEdges(keysDelta: DataFrame, keysAll: DataFrame,
                                     shingledAll: DataFrame, cfg: Config,
                                     deltaKeyRows: Long): DataFrame = {
    val d = SkewJoin.hinted(keysDelta, deltaKeyRows)
    // (src, dst) only — pred AND band are folded into the single
    // band-key hash by bandedKeys, so the join keys on one long and
    // the dedup exchange is pred-free
    val cand = d.as("d").join(keysAll.as("a"),
        col("d.key") === col("a.key") &&
          col("d.entityId") =!= col("a.entityId"))
      .select(least(col("d.entityId"), col("a.entityId")).as("src"),
        greatest(col("d.entityId"), col("a.entityId")).as("dst"))
      .distinct()
    // NO broadcast hint on cand: |cand| = Σ over delta keys of their
    // bucket sizes, and deltaKeyRows bounds only the DELTA factor —
    // the stored buckets are unguarded here (the delta path skips the
    // maxBandBucket star restructure, and the pinned census never
    // stops shingles that became hot after the pin), so a small delta
    // landing in pathological buckets can make cand arbitrarily large.
    // AQE plans the scoring join from cand's RUNTIME size instead
    // (broadcasts it when it really is small, shuffles when not).
    scorePairs(cand, shingledAll, cfg, shjHint = true)
      .distinct()
  }

  /** Exact-norm delta edges: connect each delta form into its
    * (pred, norm) block. For a block that already has old members, the
    * edge goes to the MIN over the old members (they are already one
    * component through the stored edges, so this is component-equal to
    * the from-scratch member→blockMin star); brand-new blocks get the
    * usual star among the delta members. The old entity table is only
    * SCANNED (broadcast-filtered by the delta's norms) — no shuffle of
    * the corpus side. Every edge has a delta endpoint ⇒ disjoint from
    * the stored edge set.
    */
  private[graft] def deltaExactEdges(entsOld: DataFrame,
                                     entsDelta: DataFrame,
                                     deltaRows: Long): DataFrame = {
    // broadcast the delta-derived frames only while they are small
    // (the common ingest shape)
    val dnorms = entsDelta.select("pred", "norm").distinct()
    val oldMins = entsOld.join(SkewJoin.hinted(dnorms, deltaRows),
      Seq("pred", "norm"))
      .groupBy("pred", "norm").agg(min("entityId").as("oldMin"))
    val withOld = entsDelta.join(SkewJoin.hinted(oldMins, deltaRows),
      Seq("pred", "norm"), "left")
    val toOld = withOld.filter(col("oldMin").isNotNull)
      .select(least(col("entityId"), col("oldMin")).as("src"),
        greatest(col("entityId"), col("oldMin")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val newBlocks = withOld.filter(col("oldMin").isNull)
    val newMins = newBlocks.groupBy("pred", "norm")
      .agg(min("entityId").as("dst"), count(lit(1)).as("n"))
      .filter(col("n") > 1).drop("n")
    val toNew = newBlocks.join(newMins, Seq("pred", "norm"))
      .filter(col("entityId") =!= col("dst"))
      .select(col("entityId").as("src"), col("dst"))
    toOld.unionByName(toNew).distinct()
  }
}
