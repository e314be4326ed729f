package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Relational, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` run on the driver's testdata tables (sfDir); each
  * SQL-expressible operator has a DuckDB twin in `oracleSql` with
  * IDENTICAL output column names (the driver sorts columns by name
  * before hashing). Non-SQL-expressible operators (seeded LSH, xxhash64
  * SimHash, the KG pipeline) are rows-only here and golden-tested in
  * ScalaTest instead.
  *
  * Cross-engine gotchas honored throughout: DuckDB CAST rounds while
  * Spark truncates (use floor); DuckDB regexp_replace needs the 'g'
  * flag; DuckDB len()/count() are BIGINT while Spark size() is INT
  * (cast to long); DuckDB sum(int) is HUGEINT (cast in oracle);
  * DuckDB list_cosine_similarity on FLOAT[] computes in float32
  * (cast to DOUBLE[] in oracle).
  */
object SparkEntry {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Compliance rule table (Review_Securiity_Document analog) adapted
    * to the documents vocabulary.
    */
  val complianceRules: Seq[(String, String)] = Seq(
    "\\bdup\\b" -> "duplicate_marker",
    "\\bslow\\b" -> "slow_path",
    "\\bvector\\b" -> "vector_mention"
  )

  /** Entity vocabulary for doc-level mention triples. */
  val mentionVocab: Seq[String] =
    Seq("spark", "hash", "vector", "stream", "customer")

  /** Flagship: the KG extraction stage over a deterministic synthetic
    * source-code corpus (BASELINE.json input_hint shape); driver
    * smoke-checks rows>0. Deliberately ignores the testdata dir: the
    * smoke contract needs the `files(repo,path,commit,lang,content)`
    * table, which the driver's TPC-H-ish tables don't carry, so the
    * corpus is generated in-memory (seeded, 500 files).
    */
  def entry(spark: SparkSession): DataFrame = {
    val files = fixtures.FilesGen.dataset(spark, 500L)
    graft.extract.Extraction.triples(
      graft.extract.Extraction.extract(files)).toDF()
  }

  /** Stage a single table parquet into a temp dir (FileStreamSource
    * needs a directory), run `f`, then delete the staging dir — the
    * memory sink holds the materialized rows, and repeated driver
    * invocations must not leak disk in a long-lived session.
    */
  private def withStagedTable[T](dir: String, table: String,
                                 copies: Int = 1)(f: String => T): T =
    withStagedDir { staged =>
      (1 to copies).foreach(i => java.nio.file.Files.copy(
        java.nio.file.Path.of(s"$dir/$table.parquet"),
        staged.resolve(s"$table$i.parquet")))
      f(staged.toString)
    }

  /** A fresh, empty dir for a file-stream source, deleted afterwards. */
  private def withStagedDir[T](f: java.nio.file.Path => T): T = {
    val staged = java.nio.file.Files.createTempDirectory("graft-stream")
    try f(staged)
    finally graft.store.Snapshots.deleteDir(staged.toString)
  }

  private def withStagedEvents[T](dir: String, copies: Int = 1)(f: String => T): T =
    withStagedTable(dir, "events", copies)(f)

  /** Shuffle/state partition count for a staged micro-stream, sized to
    * the INPUT VOLUME (≈1 partition per MB of staged parquet — state
    * ROWS, not scan bytes, drive per-partition streaming cost, and a
    * MB of compressed events is ~50k rows), capped by the session's
    * configured shuffle partitions. Stateful streaming pays
    * per-partition per-BATCH costs no batch query has (a state store
    * instance, its commit, its checkpoint delta file), so running a
    * MB-scale stream with the session's cluster-sized shuffle count
    * spends the wall on near-empty state commits (measured: 32 parts
    * is 15–35% slower than anywhere in the 2–16 band on the sf0.1
    * streams; the band itself is flat). At production volume the
    * bytes term dominates and the count converges to the session
    * default.
    */
  private def streamShuffleParts(s: SparkSession, stagedDir: String): Int = {
    val bytes =
      try {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(stagedDir))
        try st.mapToLong(p => java.nio.file.Files.size(p)).sum()
        finally st.close()
      } catch { case _: Throwable => Long.MaxValue }
    val byVolume = (bytes / (1L << 20)) + 1L
    math.min(s.sessionState.conf.numShufflePartitions.toLong,
      math.max(1L, byVolume)).toInt
  }

  /** Run `f` with spark.sql.shuffle.partitions set to `n`, restoring
    * the previous value — a query must not mutate session state for
    * whatever runs after it. Only the STREAM executed inside `f` sees
    * the sized value (it is baked into the new query's state
    * partitioning at start).
    */
  private def withShuffleParts[T](s: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, prev)
  }

  /** FIXED per-query scratch dir, cleared at the start of each
    * invocation: a long-lived session re-running these queries (the
    * bench runs each twice) must not leak one temp dir per rep. The
    * returned DataFrames read the dir lazily, so cleanup happens at
    * the NEXT invocation, after the previous result was consumed.
    */
  // every scratch dir this JVM creates is deleted at exit — the PID
  // suffix that fixed cross-JVM collisions also meant NOTHING else
  // could reclaim the space, and leaked ~GB-scale dirs per bench run
  // filled the host disk once
  private lazy val scratchAtExit = {
    // keyed set: freshScratch returns a FIXED path per (pid, tag), so
    // repeated query invocations must not grow the registry
    val q = java.util.concurrent.ConcurrentHashMap
      .newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      q.forEach(p => graft.store.Snapshots.deleteDir(p))
    }))
    q
  }

  private def freshScratch(tag: String): String = {
    // PID-suffixed: two JVMs running these queries concurrently must
    // not clear each other's scratch (the dirs are fixed per query so
    // re-runs within ONE session reclaim their own space)
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-q-${ProcessHandle.current.pid}-$tag")
    graft.store.Snapshots.deleteDir(p.toString)
    java.nio.file.Files.createDirectories(p)
    scratchAtExit.add(p.toString)
    p.toString
  }

  /** [[graft.link.Linking.shingleTable]] of `ents`, written once to
    * the query's scratch dir and read back as parquet.
    */
  private def materializedShingles(s: SparkSession, ents: DataFrame,
                                   tag: String): DataFrame = {
    val dir = freshScratch(tag)
    graft.link.Linking.shingleTable(ents).write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  /** A stable session-owned checkpoint dir — where [[withCheckpointDir]]
    * points the session when there was NO checkpoint dir to restore:
    * SparkContext cannot unset one, and leaving the query's scratch
    * path in place would let the next freshScratch() wipe a directory
    * a later checkpoint-using query is still writing into.
    */
  private lazy val sessionCheckpointDir: String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-session-ck-${ProcessHandle.current.pid}")
    java.nio.file.Files.createDirectories(p)
    scratchAtExit.add(p.toString)
    p.toString
  }

  /** Run `f` with the session checkpoint dir pointed at `dir`, then
    * RESTORE the previous checkpoint dir — a query must not mutate
    * session-global state for whatever runs after it. A previously
    * UNSET dir restores to [[sessionCheckpointDir]] (never left
    * pointing into query scratch about to be wiped).
    */
  private def withCheckpointDir[T](s: SparkSession, dir: String)(f: => T): T = {
    val prev = s.sparkContext.getCheckpointDir
    s.sparkContext.setCheckpointDir(dir)
    try f finally
      s.sparkContext.setCheckpointDir(prev.getOrElse(sessionCheckpointDir))
  }

  /** Source-file corpus DERIVED from the documents table, shared by
    * every oracle-checked KG orchestration query (kg_nodes_incremental,
    * kg_nodes_pinned, kg_pipeline_nodes, stream_kg_ingest): each
    * document becomes one file of "q: <form>?" lines — the asks
    * extractor round-trips each form exactly — with the kg_nodes_exact
    * case/trailing-dot variant scheme (pure doc_id arithmetic both
    * engines recompute). Variants (doc_id % 3) are independent of any
    * doc_id % 2 batch split, so norm-equal forms SPAN ingests and the
    * final graph is right only if linking merges entities across
    * versions. Forms are ^[a-z0-9]+$ words (':'/'?' would not
    * round-trip the line format). Keeps doc_id for the caller's split.
    */
  private def asksCorpus(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val words = TextOps.distinctWords(t(dir, "documents"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
    val forms = words.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, upper(col("word")))
        .when(col("doc_id") % 3 === 1, concat(col("word"), lit(".")))
        .otherwise(col("word")).as("form"))
    forms.groupBy(col("doc_id"))
      .agg(concat_ws("\n", sort_array(collect_list(
        concat(lit("q: "), col("form"), lit("?"))))).as("content"))
      .select(lit("docs").as("repo"),
        concat(lit("d"), col("doc_id").cast("string"), lit(".txt"))
          .as("path"),
        lit("c0").as("commit"), lit("md").as("lang"), col("content"),
        col("doc_id"))
  }

  /** The maintained-graph surface those queries return: the asks-kind
    * node rows (linking never crosses preds, so the kind filter pins
    * the oracle surface to the derived corpus).
    */
  private def asksNodes(s: SparkSession, runDir: String): DataFrame =
    // Pipeline.readNodes = the stored snapshot, resolved through the
    // deferred-merge canon log when one is dirty (pass-through
    // otherwise)
    graft.Pipeline.readNodes(s, runDir)
      .filter(col("kind") === "asks")
      .select(col("canonical"), col("kind"),
        col("memberCount").as("member_count"))

  /** DuckDB twin of [[asksCorpus]] → [[asksNodes]]: norm-equivalence
    * classes of the derived form set (canonical = binary-min form).
    */
  private val asksNormClassSql: String =
    """WITH w AS (SELECT DISTINCT doc_id, word FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      |    FROM documents) WHERE regexp_matches(word, '^[a-z0-9]+$')),
      |forms AS (SELECT DISTINCT
      |    CASE WHEN doc_id % 3 = 0 THEN upper(word)
      |         WHEN doc_id % 3 = 1 THEN word || '.'
      |         ELSE word END AS obj FROM w),
      |n AS (SELECT obj, regexp_replace(regexp_replace(lower(trim(obj)),
      |    '\s+', ' ', 'g'), '\.+$', '') AS norm FROM forms)
      |SELECT min(obj) AS canonical, 'asks' AS kind,
      |  count(*) AS member_count
      |FROM n GROUP BY norm""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sources / scans (SURVEY §2.1) ----
    "scan_whitelist" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "documents").filter(col("lang").isin("en", "es", "de"))
        .select("doc_id", "lang", "source")
    }),
    "dispatch_format" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "documents")
        .withColumn("processor",
          when(col("lang").isin("en", "es", "de", "fr"), "latin")
            .when(col("lang") === "zh", "cjk")
            .otherwise("other"))
        .groupBy("processor").agg(count(lit(1)).as("n_docs"))
    }),
    "size_cap_route" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "documents").select(col("doc_id"),
        when(col("n_chars") > 400, "quarantine").otherwise("ok").as("route"))
    }),
    // ---- text ops (SURVEY §2.2/§2.4 + training-data ops) ----
    "text_tokens" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.tokenStats(t(dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long"),
          col("est_llm_tokens").cast("long"))
    }),
    "normalize_fp" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.fingerprint(t(dir, "documents"))
        .select(col("doc_id"), col("fp"), col("norm_len").cast("long"))
    }),
    "token_count_bpe" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.bpeTokenCount(t(dir, "documents"))
        .select(col("doc_id"), col("n_bpe_tokens").cast("long"))
    }),
    "quality_score" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.qualityScore(t(dir, "documents"))
        .select(col("doc_id"), col("n_words").cast("long"),
          col("n_distinct_words").cast("long"), col("ttr"),
          col("avg_word_len"))
    }),
    "lang_id" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.langIdHeuristic(t(dir, "documents"))
        .select(col("doc_id"), col("n_the").cast("long"),
          col("n_a").cast("long"), col("predicted_lang"))
    }),
    "micro_summary" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.microSummary(t(dir, "documents"), 10)
    }),
    // Gopher repetition rules: pure codegen'd array exprs, no shuffle
    "repetition_score" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.repetitionScore(t(dir, "documents"))
    }),
    // PII planted deterministically from doc_id arithmetic (both
    // engines recompute the planted text bit-identically), then
    // scrubbed by the shared RE2-safe pattern chain
    "pii_scrub" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val planted = t(dir, "documents").select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@ex"), (col("doc_id") % 7).cast("string"), lit(".com"),
        when(col("doc_id") % 3 === 0, concat(lit(" call 555-"),
          (col("doc_id") % 900 + 100).cast("string"), lit("-"),
          (col("doc_id") % 9000 + 1000).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" ip 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 100).cast("string"))).otherwise(lit(""))
      ).as("text"))
      TextOps.piiScrub(planted)
    }),
    // CCNet-style corpus-level duplicated-passage fraction
    "dup_chunk_frac" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.dupChunkFrac(t(dir, "documents"), k = 5)
    }),
    // per-stage survivor counts of the curation chain (observability)
    "curation_funnel" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.ops.Curation.funnel(t(dir, "documents"),
        benchFilter = col("doc_id") % 50 === 0,
        rates = Map("src0" -> 0.3, "src1" -> 1.0), defaultRate = 0.5)
    }),
    // embedding-space dedup survivors over the planted near-dup corpus
    // (same corpus as lsh_neardup): sign-LSH pairs -> CC -> min id
    "lsh_dedup_survivors" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val base = t(dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("embedding"))
      val pert = base.filter(col("vec_id") % 5 === 0)
        .withColumnRenamed("vec_id", "orig")
        .select((col("orig") + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> x * (1 + 0.01 * (((orig + i) % 3) - 1)))")
            .as("embedding"))
      Similarity.lshDedupSurvivors(base.unionByName(pert), 0.98)
    }),
    // the full curation chain: dedup -> repetition filter ->
    // decontaminate vs the doc_id%50 eval set -> mixture sample ->
    // split -> pack into 2048-token windows per (split, source)
    "curation_pipeline" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.ops.Curation.curate(t(dir, "documents"),
        benchFilter = col("doc_id") % 50 === 0,
        rates = Map("src0" -> 0.3, "src1" -> 1.0), defaultRate = 0.5,
        splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
        budget = 2048L)
    }),
    // deterministic md5-bucket train/val/test split: pure codegen'd
    // map, no shuffle; a document's split never changes across
    // re-runs/resumes/partitioning (the rand()-split leakage bug is
    // structurally impossible)
    "split_assign" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.ops.Sampling.splitAssign(t(dir, "documents"), col("doc_id"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split"))
    }),
    // training-mixture reweighting: hash-deterministic per-source
    // keep rates (downsample src0 hard, keep src1 whole, halve rest)
    "stratified_sample" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.ops.Sampling.stratifiedSample(t(dir, "documents"),
          col("doc_id"), col("source"),
          Map("src0" -> 0.3, "src1" -> 1.0), defaultRate = 0.5)
        .select(col("doc_id"), col("source"))
    }),
    // token-budget mixture planning: per-stratum keep rates DERIVED
    // from the actual token mass (rate = min(1, budget/Σtokens)) then
    // the deterministic salted-md5 filter; strata without a budget
    // keep everything. The twin recomputes the whole derivation —
    // sums, IEEE rate division, hex thresholds — inside the oracle
    "mix_to_budget" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val toks = t(dir, "documents").select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      graft.ops.Sampling.mixToBudget(toks, col("doc_id"), col("source"),
          col("n_tokens"),
          Map("src0" -> 400L, "src1" -> 1000000L, "src2" -> 700L))
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),
    // GPT-style concat-and-chunk packing into 2048-token windows
    "pack_sequences" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val toks = t(dir, "documents").select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      graft.ops.Sampling.packSequences(toks, col("source"),
          col("doc_id"), col("n_tokens"), budget = 2048L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_tok"), col("first_bin"), col("last_bin"))
    }),
    "tier_classify" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.tierClassify(t(dir, "documents"))
        .select(col("doc_id"), col("n_ideas").cast("long"), col("tier"))
    }),
    "distinct_words" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.distinctWords(t(dir, "documents"))
    }),
    "top_words" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.topWordsPerDoc(t(dir, "documents"), 3)
        .select(col("doc_id"), col("word"), col("n"),
          col("rank").cast("long"))
    }),
    "compliance_scan" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.complianceScan(t(dir, "documents"), complianceRules)
    }),
    "kg_mentions" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextOps.distinctWords(t(dir, "documents"))
        .filter(col("word").isin(mentionVocab: _*))
        .select(col("doc_id"), lit("mentions").as("pred"),
          col("word").as("obj"))
    }),
    // ---- relational (SURVEY §2.1 S5 + joins/windows the KG stages use) ----
    "profile_agg" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Relational.profileAgg(t(dir, "lineitem"))
    }),
    "revenue_by_nation" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Relational.revenueByNation(t(dir, "lineitem"), t(dir, "supplier"),
        t(dir, "nation"))
    }),
    "top_orders" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Relational.topOrdersPerPriority(t(dir, "orders"), 5)
        .select(col("o_orderpriority"), col("rank").cast("long"),
          col("o_orderkey"), col("o_totalprice"))
    }),
    "customers_without_orders" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Relational.customersWithoutOrders(t(dir, "customer"), t(dir, "orders"),
        minPrice = 250000.0)
    }),
    "events_daily" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Relational.eventsDailyPivot(t(dir, "events"),
        Seq("click", "view", "purchase", "signup", "error"))
        .select(col("day"), col("n_click").cast("long"),
          col("n_view").cast("long"), col("n_purchase").cast("long"),
          col("n_signup").cast("long"), col("n_error").cast("long"),
          col("sum_value"))
    }),
    "sessionize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Relational.sessionize(t(dir, "events"), 1800L)
        .select(col("event_id"), col("user_id"),
          col("session_seq").cast("long"))
    }),
    // as-of join (union + running-window, one shuffle — no inequality
    // join): every click matched to the user's most recent prior (or
    // simultaneous) purchase; inner semantics via the null filter to
    // mirror DuckDB's ASOF JOIN
    "asof_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value"))
      Relational.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts")
        .filter(col("asof_purchase_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("asof_purchase_id").as("prior_purchase_id"),
          round(col("asof_value"), 4).as("prior_value"))
    }),
    "json_extract" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),
    // the emit direction (label_and_rate demands strict JSON output):
    // to_json(struct(...)) — both engines serialize compact JSON with
    // declared field order
    "json_emit" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "events").select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"), col("user_id")))
          .as("js"))
    }),
    "profile_rollup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
    }),
    "profile_cube" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
    }),
    // the Excel per-sheet metadata flatten analog (python.py:511-548):
    // workbook metadata synthesized deterministically from documents
    // (SQL-expressible), sheets array exploded to rows
    "workbook_flatten" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wb = t(dir, "documents").select(col("doc_id"),
        expr("""transform(sequence(1, cast(doc_id % 3 + 1 as int)),
                |  i -> struct(concat('sheet', i) as sheet,
                |              doc_id % 7 + i as n_cols,
                |              (doc_id + i) % 100 as n_merged))""".stripMargin)
          .as("sheets"))
      Relational.flattenSheets(wb)
    }),
    "price_quantiles" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "lineitem").groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
    }),
    // ---- dedup (training-data ops) ----
    "dedup_exact" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.exactSurvivors(t(dir, "documents"))
    }),
    "dedup_ngram_jaccard" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.ngramJaccardPairs(t(dir, "documents"), n = 3, minJ = 0.5)
    }),
    // decontamination: every 50th doc plays the benchmark/eval set;
    // the rest is the training corpus to be screened
    "contamination_check" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      Dedup.contaminated(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), n = 3)
    }),
    "dedup_simhash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.simhashPairs(t(dir, "documents"), maxHamming = 3)
    }),
    // the dedup step proper: survivors after dropping every non-min
    // member of each near-dup component (MinHash banding candidates →
    // exact Jaccard pairs → connected components); the DuckDB twin
    // resolves components with a recursive transitive closure
    "dedup_minhash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.minhashSurvivors(t(dir, "documents"), n = 3, minJ = 0.5)
    }),
    // NEAR-DUP-level decontamination: corpus docs at n-gram Jaccard
    // >= 0.5 vs any eval doc (the fuzzy upgrade of contamination_check
    // — catches paraphrased leakage verbatim-overlap counts miss);
    // bench side broadcast, exact re-score, brute-force SQL twin
    "fuzzy_decontam" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val d = t(dir, "documents")
      Dedup.fuzzyContaminated(d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0), n = 3, minJ = 0.5)
    }),
    // near-dup dedup keeping the BEST cluster member (longest doc,
    // tie -> min id) instead of the min-id member — the production
    // representative choice; same banded pair graph + CC, one extra
    // argmax groupBy. Twin: closure + row_number over (comp, quality)
    "dedup_keep_best" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.minhashSurvivorsBy(t(dir, "documents"),
        size(split(trim(col("text")), "\\s+")).cast("long"),
        n = 3, minJ = 0.5)
    }),
    // the scale path with an oracle: MinHash banding generates
    // candidates, exact set-Jaccard re-scores them — output is exact,
    // so DuckDB's brute-force twin verifies it
    "minhash_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.minhashNearDupPairs(t(dir, "documents"), n = 3, minJ = 0.5)
    }),
    // ---- similarity search (training-data ops) ----
    "cos_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val embs = t(dir, "embeddings")
      val q = embs.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Similarity.cosineTopK(embs, q, 10)
    }),
    // bucketed ANN near-dup over a synthesized near-duplicate corpus:
    // the perturbation is pure arithmetic on (vec_id, embedding), so
    // DuckDB recomputes the identical corpus and verifies the pairs
    // exactly; RP-LSH prunes candidates, exact cosine re-scores them
    // (the testdata embeddings are near-random — max pair cosine 0.6 —
    // so near-dup structure has to be planted to be non-vacuous)
    "lsh_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val base = t(dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("embedding"))
      val pert = base.filter(col("vec_id") % 5 === 0)
        .withColumnRenamed("vec_id", "orig")
        .select((col("orig") + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> x * (1 + 0.01 * (((orig + i) % 3) - 1)))")
            .as("embedding"))
      Similarity.nearDupPairs(base.unionByName(pert), 0.98)
    }),
    // IVF ANN with a DuckDB twin: the REAL index machinery (ivfAssign's
    // literal-centroid codegen map + ivfTopK's probe-pruned exact scan)
    // over deterministic one-hot centroids (centroid j = coordinate
    // basis vector e_j), so assignment degenerates to "argmax of the
    // first k coordinates" and probe ranking to "top-nProbe coordinates
    // of q" — pure arithmetic both engines recompute bit-identically.
    // The TRAINED quantizer path (ivfTrain's bounded-sample Lloyd) is
    // spec-gated instead: k-means centroids have no SQL twin.
    "ivf_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val embs = t(dir, "embeddings")
      val q = embs.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val cents = Array.tabulate(16)(j =>
        Array.tabulate(q.length)(i => if (i == j) 1.0 else 0.0))
      Similarity.ivfTopK(Similarity.ivfAssign(embs, cents), cents, q, 10,
        nProbe = 4)
    }),
    // the SERVING shape of the same index: inverted lists persisted
    // partitioned by list_id (ivfWriteIndex), probe reads ONLY the
    // nProbe probed directories — the query itself asserts the probe
    // filter landed in the scan's PartitionFilters, so the 100 TB
    // pruning property is enforced on every driver run, not just in
    // OpsSpec. Same one-hot centroids and oracle as ivf_topk (the
    // stored path must return identical rows).
    "ivf_topk_stored" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val embs = t(dir, "embeddings")
      val q = embs.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val cents = Array.tabulate(16)(j =>
        Array.tabulate(q.length)(i => if (i == j) 1.0 else 0.0))
      val idx = freshScratch("ivf-idx")
      Similarity.ivfWriteIndex(Similarity.ivfAssign(embs, cents), idx)
      val out = Similarity.ivfTopKStored(s, idx, cents, q, 10, nProbe = 4)
      val plan = out.queryExecution.executedPlan.toString
      require("PartitionFilters: \\[list_id#\\d+ IN ".r
          .findFirstIn(plan).isDefined,
        s"ivf_topk_stored: probe filter did not prune partitions:\n$plan")
      out
    }),
    "lsh_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val embs = t(dir, "embeddings")
      val q = embs.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Similarity.lshTopK(embs, q, 10)
    }),
    // ---- streaming (Structured Streaming driven to completion) ----
    "stream_windowed" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val batch = t(dir, "events")
      s.catalog.dropTempView("stream_windowed_mem")
      withStagedEvents(dir) { staged =>
        val src = s.readStream.schema(batch.schema).parquet(staged)
        withShuffleParts(s, streamShuffleParts(s, staged)) {
          graft.streaming.Streaming.runToMemory(s,
            graft.streaming.Streaming.windowedEventCounts(src),
            "stream_windowed_mem",
            org.apache.spark.sql.streaming.OutputMode.Complete())
        }.select(col("w_start").cast("timestamp_ntz").as("w_start"),
            col("event_type"), col("n"), col("sum_value"))
      }
    }),
    // ingestion-time exact dedup: the corpus delivered TWICE (the
    // at-least-once redelivery case), collapsed back to one row per
    // event_id by watermark-bounded streaming state — oracle is simply
    // the original events table
    "stream_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val batch = t(dir, "events")
      s.catalog.dropTempView("stream_dedup_mem")
      withStagedEvents(dir, copies = 2) { staged =>
        val src = s.readStream.schema(batch.schema).parquet(staged)
        withShuffleParts(s, streamShuffleParts(s, staged)) {
          graft.streaming.Streaming.runToMemory(s,
            graft.streaming.Streaming.dedupStream(src, Seq("event_id"),
              watermark = "365 days"),
            "stream_dedup_mem",
            org.apache.spark.sql.streaming.OutputMode.Append())
        }.select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
            col("user_id"))
      }
    }),
    // streaming INGEST → EXTRACTION: the pipeline's stage-1 mention
    // detection as a continuous job — documents arrive as files, the
    // stateless extraction map (explode + vocabulary filter) emits
    // triples in Append mode with no state at all, and the result must
    // equal the batch kg_mentions run (same oracle). This is the shape
    // a 100 TB ingest runs 24/7: each micro-batch is embarrassingly
    // parallel, nothing accumulates on the driver.
    "stream_kg_mentions" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val batch = t(dir, "documents")
      s.catalog.dropTempView("stream_kgm_mem")
      withStagedTable(dir, "documents") { staged =>
        val src = s.readStream.schema(batch.schema).parquet(staged)
        graft.streaming.Streaming.runToMemory(s,
          TextOps.distinctWords(src)
            .filter(col("word").isin(mentionVocab: _*))
            .select(col("doc_id"), lit("mentions").as("pred"),
              col("word").as("obj")),
          "stream_kgm_mem",
          org.apache.spark.sql.streaming.OutputMode.Append())
      }
    }),
    "stream_sessionize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val batch = t(dir, "events")
      s.catalog.dropTempView("stream_sessions_mem")
      withStagedEvents(dir) { staged =>
        val src = s.readStream.schema(batch.schema).parquet(staged)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("user_id"))
          .as[graft.streaming.Streaming.Ev]
        withShuffleParts(s, streamShuffleParts(s, staged)) {
          graft.streaming.Streaming.runToMemory(s,
            graft.streaming.Streaming.sessionizeStream(src, 1800L).toDF(),
            "stream_sessions_mem",
            org.apache.spark.sql.streaming.OutputMode.Append())
        }
      }
    }),
    // ---- the KG pipeline itself, end to end, as a query: one full
    // Pipeline.run over the documents-derived asks corpus (no batch
    // split), maintained graph = norm classes, same DuckDB twin as the
    // ingest variants below. (Until round 7 this ran a FilesGen corpus
    // rows-only; the extractor-breadth coverage that corpus gave lives
    // in PipelineSpec/StreamingSpec and graft.tools.PipelineRun.)
    "kg_pipeline_nodes" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val runDir = freshScratch("kgq")
      withCheckpointDir(s, s"$runDir/_ck") {
        graft.Pipeline.run(s,
          asksCorpus(s, dir).drop("doc_id").as[SourceFile], runDir, "kgq",
          graft.Pipeline.Config(resume = false))
      }
      asksNodes(s, runDir)
    }),
    // streaming graph maintenance end-to-end UNDER THE HASH GATE: two
    // micro-batches (doc_id % 2) of the documents-derived asks corpus
    // through kgIngestStream (batch 1 = full run, batch 2 =
    // incremental ingest + global relink) — norm-equal forms span the
    // batches, so the twin checks that the maintained graph shows no
    // batch boundary. FilesGen replay/union equality stays spec-gated
    // in StreamingSpec.
    "stream_kg_ingest" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val runDir = freshScratch("kgstream")
      withStagedDir { staged =>
        // the corpus is derived once, one parquet dir per batch under a
        // hidden dir the file source does not list. Each batch's files
        // move into the source dir while no query runs, then one query
        // takes exactly that batch: a restarted query resumes its batch
        // ids and its seen-files log from the checkpoint
        val hidden = staged.resolve(".batches")
        asksCorpus(s, dir).withColumn("b", col("doc_id") % 2 =!= 0)
          .drop("doc_id").write.partitionBy("b").parquet(hidden.toString)
        val src = s.readStream
          .schema(org.apache.spark.sql.Encoders.product[SourceFile].schema)
          .parquet(staged.toString).as[SourceFile]
        withCheckpointDir(s, s"$runDir/_ck") {
          Seq(false, true).foreach { odd =>
            Option(hidden.resolve(s"b=$odd").toFile.listFiles()).toSeq.flatten
              .filter(_.getName.endsWith(".parquet"))
              .foreach(f => java.nio.file.Files.move(f.toPath,
                staged.resolve(s"b$odd-${f.getName}")))
            val q = graft.streaming.Streaming.kgIngestStream(src, runDir,
              graft.Pipeline.Config(resume = false))
            try q.processAllAvailable() finally q.stop()
          }
        }
      }
      asksNodes(s, runDir)
    }),
    // the KG extract→link→canonicalize composition with a DuckDB twin:
    // mention surface forms are derived from the documents' word
    // vocabulary with deterministic case/trailing-dot variants (pure
    // doc_id arithmetic both engines recompute identically), linked by
    // the REAL pipeline pieces (Linking.entitiesOf → linkEdges →
    // Pipeline.assignCanonical → nodeTable). Exact-norm components are
    // norm-equivalence classes, so the oracle computes the same nodes
    // as a GROUP BY on the normalized form.
    "kg_nodes_exact" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val words = TextOps.distinctWords(t(dir, "documents"))
      val forms = words.select(lit("mentions").as("pred"),
        when(col("doc_id") % 3 === 0, upper(col("word")))
          .when(col("doc_id") % 3 === 1, concat(col("word"), lit(".")))
          .otherwise(col("word")).as("obj"))
      val ents = graft.link.Linking.entitiesOf(forms)
      // 'mentions' is not a fuzzy pred: exact-norm linking only
      val links = graft.link.Linking.linkEdges(ents, None)
      val (assign, _) = graft.Pipeline.assignCanonical(ents, links)
      graft.Pipeline.nodeTable(assign)
        .select(col("canonical"), col("kind"),
          col("memberCount").as("member_count"))
    }),
    // the FUZZY (Jaccard) linking semantics end-to-end with a DuckDB
    // twin: word + word||'x' variant forms (3-letter words sit exactly
    // AT the J=0.5 inclusive boundary), linked by the real pipeline
    // pieces through the exact small-set path, canonicalized by CC.
    // The twin recomputes shingles, exact Jaccard, and the transitive
    // closure in SQL.
    "kg_nodes_fuzzy" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val words = TextOps.distinctWords(t(dir, "documents"))
        .select(col("word")).distinct()
        .filter(length(col("word")) >= 3)
      val base = words.select(lit("tagged").as("pred"), col("word").as("obj"))
      val variants = words
        .filter(length(col("word")) % 2 === 0 || length(col("word")) === 3)
        .select(lit("tagged").as("pred"),
          concat(col("word"), lit("x")).as("obj"))
      val ents = graft.link.Linking.entitiesOf(base.unionByName(variants))
      // sizeHint None → linkEdges counts the fuzzy population exactly
      // (cheap at gate scale). Round 3 passed Some(100L) — an UNDER-
      // estimate of the ~18k fuzzy forms, which contradicted the
      // "upper bound only raises the cap — safe" contract and could
      // lower the stop-shingle cap below real dfs at larger SFs
      // (LinkingCcSpec guards the df headroom on the gate corpus).
      // the shingle table is read 4× per link run (census, blocking,
      // both scoring sides) — materialize it once instead of
      // re-deriving distinctWords+shingles per consumer (the Pipeline
      // publishes it as its ep_shingles stage)
      val links = graft.link.Linking.linkEdges(ents,
        Some(materializedShingles(s, ents, "kgfuzzy")), sizeHint = None)
      val (assign, _) = graft.Pipeline.assignCanonical(ents, links)
      graft.Pipeline.nodeTable(assign)
        .select(col("canonical"), col("kind"),
          col("memberCount").as("member_count"))
    }),
    // same composition FORCED through the banded scale path (sizeHint
    // above exactSmallThreshold): word-triple forms + truncated
    // variants sit at J≈0.9, where 20-band/r=4 recall is 1-1e-10 — so
    // the hash gate deterministically checks banded candidate
    // generation + exact scoring + CC against the SQL closure twin
    "kg_nodes_banded" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.expressions.Window
      val words = TextOps.distinctWords(t(dir, "documents"))
        .select(col("word")).distinct()
        .filter(length(col("word")) >= 3)
      // DELIBERATE global (un-partitioned) Window.orderBy: a single-
      // partition sort, acceptable ONLY because this query consumes 30
      // rows by construction (rn <= 10 × 3 joins). Never copy this
      // pattern onto an unbounded table — partition the window or use
      // a keyed rank instead.
      val idx = words.withColumn("rn",
        row_number().over(Window.orderBy(col("word"))))
      val combos = idx.filter(col("rn") <= 10).as("a")
        .join(idx.as("b"), col("b.rn") === col("a.rn") + 10)
        .join(idx.as("c"), col("c.rn") === col("a.rn") + 20)
        .select(concat_ws(" ", col("a.word"), col("b.word"), col("c.word"))
          .as("obj"))
      val base = combos.select(lit("tagged").as("pred"), col("obj"))
      val variants = combos.select(lit("tagged").as("pred"),
        expr("substring(obj, 1, length(obj) - 1)").as("obj"))
      val ents = graft.link.Linking.entitiesOf(base.unionByName(variants))
      // same 4×-read shingle materialization as kg_nodes_fuzzy above
      val links = graft.link.Linking.linkEdges(ents,
        Some(materializedShingles(s, ents, "kgband")),
        sizeHint = Some(30000L))
      val (assign, _) = graft.Pipeline.assignCanonical(ents, links)
      graft.Pipeline.nodeTable(assign)
        .select(col("canonical"), col("kind"),
          col("memberCount").as("member_count"))
    }),
    // the INCREMENTAL-INGEST contract under the hash gate: two
    // Streaming.ingestBatch calls (batch 1 = full pipeline run,
    // batch 2 = delta-only extract append + global relink) over a
    // source-file corpus DERIVED from the documents
    // table, so DuckDB can recompute the final graph. Each document
    // becomes one file of "q: <form>?" lines — the asks extractor
    // round-trips each form exactly — with the kg_nodes_exact
    // case/trailing-dot variant scheme (pure doc_id arithmetic).
    // Variants (doc_id % 3) and batch split (doc_id % 2) are
    // independent, so norm-equal forms span the two ingests and the
    // final nodes are correct ONLY if the relink merges entities
    // ACROSS ingests — the exact property no edge-append
    // scheme has. Forms are restricted to ^[a-z0-9]+$ words (both
    // engines): ':' or '?' inside a word would not round-trip the
    // asks line format. 'asks' is not a fuzzy pred and linking never
    // crosses preds, so the kind filter pins the oracle surface.
    "kg_nodes_incremental" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val runDir = freshScratch("kginc")
      val filesDf = asksCorpus(s, dir)
      val cfg = graft.Pipeline.Config(resume = false)
      withCheckpointDir(s, s"$runDir/_ck") {
        graft.streaming.Streaming.ingestBatch(
          filesDf.filter(col("doc_id") % 2 === 0).drop("doc_id")
            .as[SourceFile], 0L, runDir, cfg)
        graft.streaming.Streaming.ingestBatch(
          filesDf.filter(col("doc_id") % 2 =!= 0).drop("doc_id")
            .as[SourceFile], 1L, runDir, cfg)
      }
      asksNodes(s, runDir)
    }),
    // the EPOCH-PINNED ingest with the O(delta) merge-on-read
    // canonicalize tail, under the hash gate: default-Config base run
    // → pinEpoch → pinned ingest whose assign/nodes/edges take
    // APPEND-ONLY snapshots and whose merges land in the canon log
    // (Pipeline.mergeOnReadTail: connected components of the delta's
    // component-pair graph — the local union-find at this size).
    // Nothing folds afterwards, so the hash is taken through a
    // RESOLVING read (Pipeline.readNodes joins the dirty log and
    // re-aggregates) — the read path kg_nodes_deferred never hashes,
    // because it folds first. The require below pins that path: a
    // folded or fully rewritten graph would still hash-match, and
    // that is exactly what must not pass unnoticed. 'asks' is not a
    // fuzzy pred, so the pinned census is empty and the norm-class
    // twin is exact.
    "kg_nodes_pinned" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val runDir = freshScratch("kgpin")
      val filesDf = asksCorpus(s, dir)
      val cfg = graft.Pipeline.Config(resume = false)
      withCheckpointDir(s, s"$runDir/_ck") {
        graft.Pipeline.run(s,
          filesDf.filter(col("doc_id") % 2 === 0).drop("doc_id")
            .as[SourceFile], runDir, "pin-base", cfg)
        graft.Pipeline.pinEpoch(s, runDir, "pin-pin", cfg)
        graft.Pipeline.runIncrementalPinned(s,
          filesDf.filter(col("doc_id") % 2 =!= 0).drop("doc_id")
            .as[SourceFile], runDir, "pin-delta", cfg)
      }
      require(graft.store.Snapshots.readManifest(runDir, "nodes")
        .metrics.get("defer").contains("true") &&
        graft.Pipeline.canonLogDirty(runDir),
        "kg_nodes_pinned must read through the merge-on-read tail's " +
          "appends and dirty canon log, not a folded graph")
      asksNodes(s, runDir)
    }),
    // ---- MERGE-ON-READ lifecycle under the hash gate: the pinned
    // delta ingests through the merge-on-read tail (append-only
    // snapshots + canon log), then the threshold fold applies the log
    // physically — the final nodes must still hash-match the
    // norm-class twin
    "kg_nodes_deferred" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val runDir = freshScratch("kgdef")
      val filesDf = asksCorpus(s, dir)
      val cfg = graft.Pipeline.Config(resume = false,
        compactAppendFrac = Some(1e-9))
      withCheckpointDir(s, s"$runDir/_ck") {
        graft.Pipeline.run(s,
          filesDf.filter(col("doc_id") % 2 === 0).drop("doc_id")
            .as[SourceFile], runDir, "def-base", cfg)
        graft.Pipeline.pinEpoch(s, runDir, "def-pin", cfg)
        graft.Pipeline.runIncrementalPinned(s,
          filesDf.filter(col("doc_id") % 2 =!= 0).drop("doc_id")
            .as[SourceFile], runDir, "def-delta", cfg)
      }
      // the ingest really deferred (an append-only version by this
      // runId exists) AND the fold really applied+cleared the
      // log — no silent fallback on either side of the lifecycle
      val deferredAppend = graft.store.Snapshots.versions(runDir, "nodes")
        .exists { v =>
          val m = graft.store.Snapshots
            .readManifestVersion(runDir, "nodes", v)
          m.runId == "def-delta" && m.metrics.get("defer").contains("true")
        }
      require(deferredAppend &&
        graft.store.Snapshots.readManifest(runDir, "nodes")
          .metrics.get("compacted").contains("true") &&
        !graft.Pipeline.canonLogDirty(runDir),
        "kg_nodes_deferred must fold a deferred ingest, not fall back")
      asksNodes(s, runDir)
    }),
    // ---- custom Catalyst expression (codegen'd rolling fingerprint) ----
    "doc_rolling_fp" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "documents").select(col("doc_id"),
        graft.functions.functions.rolling_minhash(col("text"), 16).as("fp"))
    }),
    // ---- multimodal (binary payloads + typed metadata; JvmCodec) ----
    // metadata aggregation over a media table derived from `documents`
    // by pure integer arithmetic — SQL-expressible, so the groupBy has
    // a DuckDB twin recomputing the same derivation. (On a stored
    // media table the binary payload never reaches this aggregate —
    // column pruning, plan-asserted in MultimodalSpec; here the media
    // rows are synthesized in-flight by a typed map.)
    "media_profile" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.mediaProfile(
          Multimodal.mediaFromDocuments(t(dir, "documents")).toDF())
        .select(col("kind"), col("n"), col("avg_duration_ms"),
          col("max_width").cast("long").as("max_width"))
    }),
    // the decode→embed→search composition WITH an oracle: the
    // documents-derived media payloads are UTF-8 text bytes (no PNG/WAV
    // container), so JvmCodec deterministically takes its SHA-256
    // digest-fallback feature on every row — DuckDB recomputes the
    // digest with its own sha256(), reassembles the same 16 big-endian
    // byte pairs, and replays the cosine top-k. (Each feature value
    // n/2^15 − 1 is exactly representable in BOTH float32 and float64,
    // so the engines agree bit-for-bit despite Spark computing the
    // feature in Float.) The random-payload corpus variant stays
    // spec-gated in MultimodalSpec.
    "media_sim_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val feats = Multimodal.extractFeatures(
          Multimodal.mediaFromDocuments(t(dir, "documents")))
        .select(col("mediaId").as("vec_id"), col("feature").as("embedding"))
      val q = feats.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Similarity.cosineTopK(feats, q, 5)
    })
  )

  /** Shared DuckDB twin of fuzzy linking + canonicalization: the
    * caller supplies the CTEs that build `forms(obj)` from the
    * document vocabulary `w(word)`; this wraps them with the Linking
    * semantics — norm, distinct 3-shingles, exact set Jaccard with the
    * boundary-INCLUSIVE >= 0.5 rule, transitive closure (recursive
    * CTE), min-rep components, and the nodeTable projection.
    */
  private def kgFuzzyClosureSql(formsCtes: String): String =
    s"""WITH RECURSIVE w AS (SELECT DISTINCT word FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |    FROM documents) WHERE length(word) >= 3),
       |$formsCtes,
       |n AS (SELECT obj, regexp_replace(regexp_replace(lower(trim(obj)),
       |    '\\s+', ' ', 'g'), '\\.+$$', '') AS norm FROM forms),
       |sh AS (SELECT DISTINCT norm, sh FROM (
       |  SELECT norm, unnest(list_transform(range(1, length(norm) - 1),
       |    i -> substring(norm, CAST(i AS INT), 3))) AS sh
       |  FROM (SELECT DISTINCT norm FROM n))),
       |sizes AS (SELECT norm, count(*) AS sz FROM sh GROUP BY 1),
       |cand AS (SELECT a.norm AS na, b.norm AS nb, count(*) AS inter
       |  FROM sh a JOIN sh b USING (sh) WHERE a.norm < b.norm GROUP BY 1, 2),
       |pairs AS (SELECT na, nb FROM cand
       |  JOIN sizes sa ON sa.norm = na JOIN sizes sb ON sb.norm = nb
       |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
       |e AS (SELECT na AS src, nb AS dst FROM pairs
       |  UNION ALL SELECT nb, na FROM pairs),
       |reach(src, dst) AS (SELECT src, dst FROM e
       |  UNION SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
       |rep AS (SELECT nn.norm, least(nn.norm, coalesce(m.mn, nn.norm)) AS rep
       |  FROM (SELECT DISTINCT norm FROM n) nn
       |  LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY 1) m
       |    ON m.src = nn.norm)
       |SELECT min(obj) AS canonical, 'tagged' AS kind,
       |  count(*) AS member_count
       |FROM n JOIN rep USING (norm) GROUP BY rep.rep""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "scan_whitelist" ->
      "SELECT doc_id, lang, source FROM documents WHERE lang IN ('en','es','de')",
    "dispatch_format" ->
      """SELECT CASE WHEN lang IN ('en','es','de','fr') THEN 'latin'
        |  WHEN lang = 'zh' THEN 'cjk' ELSE 'other' END AS processor,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "size_cap_route" ->
      """SELECT doc_id, CASE WHEN n_chars > 400 THEN 'quarantine'
        |  ELSE 'ok' END AS route FROM documents""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  CAST(floor(len(regexp_split_to_array(trim(text), '\s+')) * 1.3) AS BIGINT) AS est_llm_tokens
        |FROM documents""".stripMargin,
    "token_count_bpe" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text,
        |  '''?[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    // redelivered-twice corpus deduped on ingest == the original table
    "stream_dedup" ->
      "SELECT event_id, ts, user_id FROM events",
    "normalize_fp" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_len
        |FROM documents""".stripMargin,
    "quality_score" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS ws,
        |    length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nlen
        |  FROM documents)
        |SELECT doc_id, len(ws) AS n_words,
        |  len(list_distinct(ws)) AS n_distinct_words,
        |  round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS ttr,
        |  round(CAST(nlen - (len(ws) - 1) AS DOUBLE) / len(ws), 6) AS avg_word_len
        |FROM w""".stripMargin,
    "lang_id" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\bthe\b')) AS n_the,
        |  len(regexp_extract_all(text, '\ba\b')) AS n_a,
        |  CASE WHEN len(regexp_extract_all(text, '\bthe\b')) >= 3 THEN 'en'
        |    WHEN len(regexp_extract_all(text, '\ba\b')) >= 2 THEN 'en_weak'
        |    ELSE 'und' END AS predicted_lang
        |FROM documents""".stripMargin,
    // thresholds are 4-hex-digit floors of the cumulative fractions:
    // 0.8*65536 -> 0xcccc, 0.9*65536 -> 0xe666; fixed-width lowercase
    // hex compares lexicographically = numerically in BOTH engines
    "split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
        |    THEN 'train'
        |  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |    THEN 'val'
        |  ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "micro_summary" ->
      """SELECT doc_id,
        |  array_to_string(regexp_split_to_array(trim(text), '\s+')[1:10], ' ') AS summary
        |FROM documents""".stripMargin,
    // thresholds: 4-hex floors of rate*65536 — 0.3 -> 0x4ccc,
    // 1.0 -> capped 0xffff (the OR keeps the cap's top bucket),
    // 0.5 -> 0x8000; bucket salt 'sample:' decorrelates from split_assign
    "stratified_sample" ->
      """WITH b AS (SELECT doc_id, source,
        |  substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bk,
        |  CASE WHEN source = 'src0' THEN '4ccc'
        |       WHEN source = 'src1' THEN 'ffff'
        |       ELSE '8000' END AS th
        |  FROM documents)
        |SELECT doc_id, source FROM b
        |WHERE bk < th OR (th = 'ffff' AND bk = 'ffff')""".stripMargin,
    "pack_sequences" ->
      """WITH w AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
        |    PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |  AS start_tok FROM w)
        |SELECT doc_id, source, n_tokens, start_tok,
        |  start_tok // 2048 AS first_bin,
        |  (start_tok + n_tokens - 1) // 2048 AS last_bin
        |FROM s""".stripMargin,
    "repetition_score" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, ws,
        |  CAST(list_max(list_transform(list_distinct(ws),
        |    w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws) AS topf,
        |  CASE WHEN len(ws) >= 2 THEN
        |    1.0 - CAST(len(list_distinct(list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]))) AS DOUBLE) / (len(ws) - 1)
        |  ELSE 0.0 END AS dup2
        |  FROM w)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  round(topf, 6) AS top_word_frac,
        |  round(dup2, 6) AS dup_2gram_frac,
        |  (topf <= 0.2 AND dup2 <= 0.9) AS keep
        |FROM g""".stripMargin,
    "pii_scrub" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@ex' ||
        |    CAST(doc_id % 7 AS VARCHAR) || '.com' ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' call 555-' ||
        |    CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||
        |    CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' ip 10.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |    CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id, t, regexp_replace(t,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM p),
        |s2 AS (SELECT doc_id, t, t1, regexp_replace(t1,
        |  '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS t2 FROM s1)
        |SELECT doc_id,
        |  regexp_replace(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(t1, '\b\d{3}-\d{3}-\d{4}\b'))
        |     + len(regexp_extract_all(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_pii
        |FROM s2""".stripMargin,
    // funnel counts over the same CTE chain as curation_pipeline
    "curation_funnel" ->
      """WITH corpus AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 50 <> 0),
        |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |dd AS (SELECT doc_id, text, source FROM (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM corpus) WHERE rn = 1),
        |wsr AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM dd),
        |clean AS (SELECT doc_id, source, ws FROM wsr
        |  WHERE CAST(list_max(list_transform(list_distinct(ws),
        |      w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws) <= 0.2
        |    AND (CASE WHEN len(ws) >= 2 THEN
        |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(ws)),
        |        i -> ws[i] || ' ' || ws[i+1]))) AS DOUBLE) / (len(ws) - 1)
        |      ELSE 0.0 END) <= 0.9),
        |csh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-2,1)+1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM clean)),
        |bsh AS (SELECT DISTINCT sh FROM (
        |  SELECT unnest(list_transform(
        |    range(1, greatest(len(regexp_split_to_array(trim(text),'\s+'))-2,1)+1),
        |    i -> array_to_string(regexp_split_to_array(trim(text),'\s+')[i:i+2], ' '))) AS sh
        |  FROM bench)),
        |flagged AS (SELECT c.doc_id FROM csh c JOIN bsh USING (sh)
        |  GROUP BY 1 HAVING count(*) >= 5),
        |decon AS (SELECT * FROM clean
        |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
        |samp AS (SELECT * FROM (SELECT *,
        |    substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bk,
        |    CASE WHEN source = 'src0' THEN '4ccc'
        |         WHEN source = 'src1' THEN 'ffff'
        |         ELSE '8000' END AS th
        |  FROM decon)
        |  WHERE bk < th OR (th = 'ffff' AND bk = 'ffff'))
        |SELECT '1_corpus' AS stage, count(*) AS n_rows FROM corpus
        |UNION ALL SELECT '2_clean', count(*) FROM clean
        |UNION ALL SELECT '3_decontaminated', count(*) FROM decon
        |UNION ALL SELECT '4_sampled', count(*) FROM samp""".stripMargin,
    // exact closure over the exact >=0.98 pairs of the planted corpus
    // (recall-1.0 candidates pinned by the green lsh_neardup row)
    "lsh_dedup_survivors" ->
      """WITH RECURSIVE base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pert AS (SELECT orig + 1000000 AS vec_id,
        |    list_transform(range(0, len(v)), i -> v[i + 1] * (1 + 0.01 * (((orig + i) % 3) - 1))) AS v
        |  FROM (SELECT vec_id AS orig, v FROM base WHERE vec_id % 5 = 0)),
        |a AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        |pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM a x JOIN a y ON x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.v, y.v) >= 0.98),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |dropped AS (SELECT src AS vec_id FROM reach GROUP BY src
        |  HAVING src > min(dst))
        |SELECT vec_id FROM a
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    // stage-for-stage CTE twin of Curation.curate; thresholds and salt
    // literals match stratified_sample / split_assign above
    "curation_pipeline" ->
      """WITH corpus AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 50 <> 0),
        |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |dd AS (SELECT doc_id, text, source FROM (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM corpus) WHERE rn = 1),
        |wsr AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM dd),
        |clean AS (SELECT doc_id, source, ws FROM wsr
        |  WHERE CAST(list_max(list_transform(list_distinct(ws),
        |      w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws) <= 0.2
        |    AND (CASE WHEN len(ws) >= 2 THEN
        |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(ws)),
        |        i -> ws[i] || ' ' || ws[i+1]))) AS DOUBLE) / (len(ws) - 1)
        |      ELSE 0.0 END) <= 0.9),
        |csh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-2,1)+1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM clean)),
        |bsh AS (SELECT DISTINCT sh FROM (
        |  SELECT unnest(list_transform(
        |    range(1, greatest(len(regexp_split_to_array(trim(text),'\s+'))-2,1)+1),
        |    i -> array_to_string(regexp_split_to_array(trim(text),'\s+')[i:i+2], ' '))) AS sh
        |  FROM bench)),
        |flagged AS (SELECT c.doc_id FROM csh c JOIN bsh USING (sh)
        |  GROUP BY 1 HAVING count(*) >= 5),
        |decon AS (SELECT * FROM clean
        |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
        |samp AS (SELECT * FROM (SELECT *,
        |    substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bk,
        |    CASE WHEN source = 'src0' THEN '4ccc'
        |         WHEN source = 'src1' THEN 'ffff'
        |         ELSE '8000' END AS th
        |  FROM decon)
        |  WHERE bk < th OR (th = 'ffff' AND bk = 'ffff')),
        |spl AS (SELECT *,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split FROM samp),
        |tok AS (SELECT doc_id, source, split, CAST(len(ws) AS BIGINT) AS n_tokens
        |  FROM spl),
        |packed AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
        |    PARTITION BY split, source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |  AS start_tok FROM tok)
        |SELECT doc_id, source, split, n_tokens, start_tok,
        |  start_tok // 2048 AS first_bin,
        |  (start_tok + n_tokens - 1) // 2048 AS last_bin
        |FROM packed""".stripMargin,
    "dup_chunk_frac" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    md5_number_lower(array_to_string(ws[(j-1)*5+1:(j-1)*5+5], ' ')) AS h
        |  FROM w, unnest(range(1, len(ws)//5 + 1)) AS t(j)
        |  WHERE len(ws) >= 5),
        |pd AS (SELECT doc_id, h, count(*) AS cnt FROM c GROUP BY 1, 2),
        |df AS (SELECT h, count(*) AS df FROM pd GROUP BY 1)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN df > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  round(CAST(sum(CASE WHEN df > 1 THEN cnt ELSE 0 END) AS DOUBLE)
        |    / sum(cnt), 6) AS dup_chunk_frac
        |FROM pd JOIN df USING (h)
        |GROUP BY doc_id""".stripMargin,
    "tier_classify" ->
      """WITH w AS (SELECT doc_id,
        |    len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_ideas
        |  FROM documents)
        |SELECT doc_id, n_ideas,
        |  CASE WHEN n_ideas >= 18 THEN 'S' WHEN n_ideas >= 15 THEN 'A'
        |    WHEN n_ideas >= 12 THEN 'B' WHEN n_ideas >= 10 THEN 'C'
        |    ELSE 'D' END AS tier
        |FROM w""".stripMargin,
    "distinct_words" ->
      """SELECT doc_id, word FROM (
        |  SELECT doc_id,
        |    unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS word
        |  FROM documents) WHERE length(word) > 0""".stripMargin,
    "top_words" ->
      """WITH c AS (
        |  SELECT doc_id, word, count(*) AS n FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents) WHERE length(word) > 0 GROUP BY 1, 2)
        |SELECT doc_id, word, n, rank FROM (
        |  SELECT doc_id, word, n, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY n DESC, word ASC) AS rank
        |  FROM c) WHERE rank <= 3""".stripMargin,
    "compliance_scan" ->
      """SELECT doc_id, issue FROM documents
        |CROSS JOIN (VALUES ('\bdup\b', 'duplicate_marker'),
        |  ('\bslow\b', 'slow_path'),
        |  ('\bvector\b', 'vector_mention')) AS rules(pattern, issue)
        |WHERE regexp_matches(text, pattern)""".stripMargin,
    "kg_mentions" ->
      """SELECT doc_id, 'mentions' AS pred, word AS obj FROM (
        |  SELECT doc_id,
        |    unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS word
        |  FROM documents)
        |WHERE word IN ('spark','hash','vector','stream','customer')""".stripMargin,
    // the streaming run of the same stateless extraction must emit
    // exactly the batch mention set
    "stream_kg_mentions" ->
      """SELECT doc_id, 'mentions' AS pred, word AS obj FROM (
        |  SELECT doc_id,
        |    unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS word
        |  FROM documents)
        |WHERE word IN ('spark','hash','vector','stream','customer')""".stripMargin,
    "profile_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(min(l_extendedprice), 4) AS min_price,
        |  round(max(l_extendedprice), 4) AS max_price,
        |  round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "revenue_by_nation" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "top_orders" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (
        |    PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders) WHERE rank <= 5""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin,
    "events_daily" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "sessionize" ->
      """SELECT event_id, user_id, CAST(session_seq AS BIGINT) AS session_seq FROM (
        |  SELECT event_id, user_id, sum(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM (
        |    SELECT event_id, user_id, ts,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        THEN 1
        |        WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |        THEN 1 ELSE 0 END AS is_new
        |    FROM events))""".stripMargin,
    "json_extract" ->
      "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events",
    "asof_join" ->
      """SELECT l.event_id, l.user_id, l.ts,
        |  r.event_id AS prior_purchase_id, round(r.value, 4) AS prior_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "profile_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "profile_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "workbook_flatten" ->
      """SELECT doc_id, 'sheet' || i AS sheet,
        |  doc_id % 7 + i AS n_cols, (doc_id + i) % 100 AS n_merged
        |FROM documents, unnest(range(1, doc_id % 3 + 2)) AS t(i)""".stripMargin,
    "price_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the stateful streaming twin must produce exactly the batch result
    "stream_sessionize" ->
      """SELECT event_id, user_id, CAST(session_seq AS BIGINT) AS session_seq FROM (
        |  SELECT event_id, user_id, sum(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM (
        |    SELECT event_id, user_id, ts,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        THEN 1
        |        WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |        THEN 1 ELSE 0 END AS is_new
        |    FROM events))""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM (
        |  SELECT doc_id, md5(text) AS fp FROM documents) GROUP BY fp""".stripMargin,
    // models the operator EXACTLY, including the stop-shingle cap:
    // per-doc sizes are over ALL shingles, but the pair intersection
    // only counts shingles with df <= 1000 (maxDocsPerShingle) — so
    // the pairing stays sound even on boilerplate-heavy data where a
    // shingle crosses the cap
    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(ws) - 2, 1) + 1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 1000),
        |shf AS (SELECT doc_id, sh FROM sh JOIN rare USING (sh)),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM shf a JOIN shf b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5""".stripMargin,
    // same word-3-gram shape; bench grams from the doc_id%50=0 docs,
    // corpus = everything else, n_overlap = distinct shared grams
    "contamination_check" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(ws) - 2, 1) + 1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w)),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0)
        |SELECT s.doc_id, count(*) AS n_overlap
        |FROM sh s JOIN bench USING (sh)
        |WHERE s.doc_id % 50 <> 0
        |GROUP BY 1""".stripMargin,
    "cos_topk" ->
      """SELECT vec_id, round(list_cosine_similarity(
        |    CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |FROM embeddings ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    // IVF with one-hot centroids: assignment = argmax of the first 16
    // coordinates (dot with basis vector e_j is exactly v[j]); probe
    // set = the 4 largest coordinates of the query; exact cosine
    // inside probed lists — the same plan ivfAssign/ivfTopK execute
    "ivf_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |asn AS (SELECT vec_id, j AS list_id FROM (
        |  SELECT e.vec_id, t.i AS j,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY e.v[t.i + 1] DESC, t.i ASC) AS rn
        |  FROM e, unnest(range(0, 16)) AS t(i)) WHERE rn = 1),
        |probes AS (SELECT t.i AS j FROM q, unnest(range(0, 16)) AS t(i)
        |  ORDER BY q.qv[t.i + 1] DESC, t.i ASC LIMIT 4)
        |SELECT e.vec_id, round(list_cosine_similarity(e.v,
        |  (SELECT qv FROM q)), 6) AS cos
        |FROM e JOIN asn USING (vec_id)
        |WHERE asn.list_id IN (SELECT j FROM probes)
        |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    // identical twin to ivf_topk: the stored (partition-pruned) index
    // must return exactly what the in-memory path returns
    "ivf_topk_stored" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |asn AS (SELECT vec_id, j AS list_id FROM (
        |  SELECT e.vec_id, t.i AS j,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY e.v[t.i + 1] DESC, t.i ASC) AS rn
        |  FROM e, unnest(range(0, 16)) AS t(i)) WHERE rn = 1),
        |probes AS (SELECT t.i AS j FROM q, unnest(range(0, 16)) AS t(i)
        |  ORDER BY q.qv[t.i + 1] DESC, t.i ASC LIMIT 4)
        |SELECT e.vec_id, round(list_cosine_similarity(e.v,
        |  (SELECT qv FROM q)), 6) AS cos
        |FROM e JOIN asn USING (vec_id)
        |WHERE asn.list_id IN (SELECT j FROM probes)
        |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "stream_windowed" ->
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // brute-force twin of the LSH-bucketed path: recompute the planted
    // near-dup corpus with the identical arithmetic, compare all pairs
    "lsh_neardup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pert AS (SELECT orig + 1000000 AS vec_id,
        |    list_transform(range(0, len(v)), i -> v[i + 1] * (1 + 0.01 * (((orig + i) % 3) - 1))) AS v
        |  FROM (SELECT vec_id AS orig, v FROM base WHERE vec_id % 5 = 0)),
        |a AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
        |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |  round(list_cosine_similarity(x.v, y.v), 6) AS cos
        |FROM a x JOIN a y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.v, y.v) >= 0.98""".stripMargin,
    // brute-force twin of the MinHash-banded path (same SQL shape as
    // dedup_ngram_jaccard: exact Jaccard over distinct word 3-shingles)
    "minhash_neardup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(ws) - 2, 1) + 1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5""".stripMargin,
    "json_emit" ->
      """SELECT event_id, to_json(struct_pack(event_id := event_id,
        |  event_type := event_type, user_id := user_id)) AS js
        |FROM events""".stripMargin,
    // dedup survivors: exact J>=0.5 pairs (same shape as the
    // minhash_neardup twin), then near-dup components via recursive
    // transitive closure; drop every doc that can reach a smaller one
    "dedup_minhash" ->
      """WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(ws) - 2, 1) + 1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |dropped AS (SELECT src AS doc_id FROM reach GROUP BY src
        |  HAVING src > min(dst))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
    // brute-force cross Jaccard: every (corpus, bench) pair sharing a
    // shingle, exact J >= 0.5, per-doc match count + max
    "fuzzy_decontam" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(ws) - 2, 1) + 1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w)),
        |c AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
        |b AS (SELECT * FROM sh WHERE doc_id % 50 = 0),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pair AS (SELECT c.doc_id AS doc_id, b.doc_id AS bid, count(*) AS inter
        |  FROM c JOIN b USING (sh) GROUP BY 1, 2),
        |j AS (SELECT pair.doc_id, bid,
        |    CAST(inter AS DOUBLE) / (sc.sz + sb.sz - inter) AS j
        |  FROM pair JOIN sizes sc ON sc.doc_id = pair.doc_id
        |  JOIN sizes sb ON sb.doc_id = bid
        |  WHERE CAST(inter AS DOUBLE) / (sc.sz + sb.sz - inter) >= 0.5)
        |SELECT doc_id, count(*) AS n_matches, round(max(j), 6) AS max_j
        |FROM j GROUP BY doc_id""".stripMargin,
    // same closure as dedup_minhash; representative = argmax token
    // count per component, tie -> min id (the keep-best contract)
    "dedup_keep_best" ->
      """WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(ws) - 2, 1) + 1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |compid AS (SELECT t.doc_id,
        |    least(t.doc_id, coalesce(min(r.dst), t.doc_id)) AS comp
        |  FROM w t LEFT JOIN reach r ON r.src = t.doc_id GROUP BY t.doc_id),
        |q AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents)
        |SELECT doc_id FROM (
        |  SELECT c.doc_id, row_number() OVER (
        |    PARTITION BY comp ORDER BY q.nt DESC, c.doc_id ASC) AS rn
        |  FROM compid c JOIN q USING (doc_id)) WHERE rn = 1""".stripMargin,
    // rates derived in-oracle: IEEE double division + the same 4-hex
    // floor thresholds as stratified_sample; budget-less strata 'ffff'
    "mix_to_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, CAST(SUM(n_tokens) AS DOUBLE) AS tot
        |  FROM t GROUP BY source),
        |r AS (SELECT source,
        |    LEAST(1.0, CASE source WHEN 'src0' THEN 400.0
        |      WHEN 'src1' THEN 1000000.0
        |      WHEN 'src2' THEN 700.0 ELSE NULL END / tot) AS rate
        |  FROM tot),
        |th AS (SELECT source,
        |    CASE WHEN rate IS NULL THEN 'ffff'
        |      ELSE printf('%04x', LEAST(65535, CAST(floor(rate * 65536) AS BIGINT)))
        |    END AS th
        |  FROM r),
        |b AS (SELECT doc_id, source, n_tokens,
        |    substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bk
        |  FROM t)
        |SELECT doc_id, source, n_tokens
        |FROM b JOIN th USING (source)
        |WHERE bk < th OR (th = 'ffff' AND bk = 'ffff')""".stripMargin,
    // fuzzy KG nodes, exact small-set path: shingles + exact Jaccard
    // (inclusive >= 0.5; the 3-letter-word variants sit exactly at the
    // boundary) + transitive closure, all recomputed in SQL
    "kg_nodes_fuzzy" -> kgFuzzyClosureSql(
      """forms AS (SELECT word AS obj FROM w
        |  UNION SELECT word || 'x' FROM w
        |  WHERE length(word) % 2 = 0 OR length(word) = 3)""".stripMargin),
    // fuzzy KG nodes through the BANDED scale path: word-triple forms
    // + truncated variants (J≈0.9, banding recall 1-1e-10)
    "kg_nodes_banded" -> kgFuzzyClosureSql(
      """ord AS (SELECT word, row_number() OVER (ORDER BY word) AS rn FROM w),
        |combos AS (SELECT a.word || ' ' || b.word || ' ' || c.word AS obj
        |  FROM ord a JOIN ord b ON b.rn = a.rn + 10
        |  JOIN ord c ON c.rn = a.rn + 20
        |  WHERE a.rn <= 10),
        |forms AS (SELECT obj FROM combos
        |  UNION SELECT substring(obj, 1, CAST(length(obj) - 1 AS INT))
        |  FROM combos)""".stripMargin),
    // exact-norm KG nodes: components of exact-norm linking are the
    // norm-equivalence classes, canonical = binary-min surface form
    "kg_nodes_exact" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents) WHERE length(word) > 0),
        |forms AS (SELECT DISTINCT
        |    CASE WHEN doc_id % 3 = 0 THEN upper(word)
        |         WHEN doc_id % 3 = 1 THEN word || '.'
        |         ELSE word END AS obj FROM w),
        |n AS (SELECT obj, regexp_replace(regexp_replace(lower(trim(obj)),
        |    '\s+', ' ', 'g'), '\.+$', '') AS norm FROM forms)
        |SELECT min(obj) AS canonical, 'mentions' AS kind,
        |  count(*) AS member_count
        |FROM n GROUP BY norm""".stripMargin,
    // ingest-orchestration twins: the final maintained graph equals
    // the norm-equivalence classes of the full form set — batch/ingest
    // boundaries must be invisible in the output, which is exactly
    // what this twin cannot see and therefore checks. Shared verbatim
    // by all four orchestrations over the asks corpus: two-batch
    // global relink (kg_nodes_incremental), epoch-pinned ingest with
    // the O(delta) merge-on-read tail (kg_nodes_pinned), single full run
    // (kg_pipeline_nodes), and Structured-Streaming maintenance
    // (stream_kg_ingest).
    "kg_nodes_incremental" -> asksNormClassSql,
    "kg_nodes_pinned" -> asksNormClassSql,
    "kg_nodes_deferred" -> asksNormClassSql,
    "kg_pipeline_nodes" -> asksNormClassSql,
    "stream_kg_ingest" -> asksNormClassSql,
    // brute-force twin of the banded SimHash pairs (banding is
    // pigeonhole-complete for hamming<=3, so the sets are equal); the
    // word hash is md5_number_lower, which the Spark side reassembles
    // bit-identically from the md5 hex digest
    "dedup_simhash" ->
      """WITH words AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents) WHERE length(word) > 0),
        |bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (md5_number_lower(word) >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM words, unnest(range(0, 64)) AS t(i)
        |  GROUP BY 1, 2),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END) AS UBIGINT) AS simhash
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    // JvmCodec's digest-fallback feature (text payloads decode as
    // neither PNG nor WAV): 16 features from sha256(payload) — byte
    // pair 2k,2k+1 (hex chars 4k+1..4k+4, big-endian) → n/2^15 − 1
    "media_sim_topk" ->
      """WITH s AS (SELECT doc_id, sha256(text) AS h FROM documents),
        |f AS (SELECT doc_id AS vec_id,
        |  list_transform(range(0, 16), k ->
        |      CAST((strpos('0123456789abcdef', substr(h, CAST(4*k + 1 AS INT), 1)) - 1) * 4096
        |         + (strpos('0123456789abcdef', substr(h, CAST(4*k + 2 AS INT), 1)) - 1) * 256
        |         + (strpos('0123456789abcdef', substr(h, CAST(4*k + 3 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substr(h, CAST(4*k + 4 AS INT), 1)) - 1)
        |        AS DOUBLE) / 32768.0 - 1.0) AS v
        |  FROM s)
        |SELECT vec_id, round(list_cosine_similarity(v,
        |  (SELECT v FROM f WHERE vec_id = 0)), 6) AS cos
        |FROM f ORDER BY cos DESC, vec_id ASC LIMIT 5""".stripMargin,
    "media_profile" ->
      """WITH m AS (SELECT
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE WHEN doc_id % 3 = 0 THEN 64 + (doc_id % 8) * 64
        |       WHEN doc_id % 3 = 1 THEN 0 ELSE 320 END AS width,
        |  CASE WHEN doc_id % 3 = 1 THEN 1000 + (doc_id % 60) * 500
        |       WHEN doc_id % 3 = 2 THEN 1000 + (doc_id % 30) * 1000
        |       ELSE 0 END AS duration_ms
        |FROM documents)
        |SELECT kind, count(*) AS n,
        |  round(avg(duration_ms), 2) AS avg_duration_ms,
        |  CAST(max(width) AS BIGINT) AS max_width
        |FROM m GROUP BY 1""".stripMargin
  )
}
