package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{MinHashSigs, SignLshBands, SortedIntersectCount}
import Main._

/** `ops_suite`: a fixed set of 9 of the non-knowledge-graph
  * `SparkEntry` queries (the `kg_*` and `stream_kg_*` ones are
  * `kg_lifecycle`'s), over tables generated from the seed, in a
  * seed-permuted order, with the cache cleared between queries. A
  * query's result is consumed in full through the `noop` sink.
  *
  * The set holds at least one query per `ops` module, the streaming
  * module and the custom kernels the queries call (`sign_lsh_bands`,
  * `rolling_minhash`); the other 46 queries are left out because a run
  * pays each query's plan compilation once before timing it, and all
  * 55 do not fit the run budget (see README.md).
  *
  * Set-up (untimed): the digests of the queries without a DuckDB twin
  * over fixed canary tables, which `run.py` compares with the committed
  * ones; the seed's tables, written three times (`setup_s` is the
  * median); and one pass that compiles every plan and saves the results
  * the DuckDB twins are checked against. Timed: whole passes until
  * `--seconds` have passed.
  */
object OpsSuite {

  val Queries = Seq(
    "dedup_minhash",     // dedup
    "lsh_topk",          // similarity, sign_lsh_bands
    "text_tokens",       // text
    "revenue_by_nation", // relational
    "curation_funnel",   // curation
    "media_profile",     // multimodal
    "stratified_sample", // sampling
    "stream_windowed",   // streaming
    "doc_rolling_fp")    // rolling_minhash

  val Sf = 0.004
  val Docs = 400
  val ToySf = 0.001
  val ToyDocs = 100

  /** `ops` module (or `streaming`) each query calls. */
  val ModuleOf = Map(
    "dedup_minhash" -> "dedup",
    "lsh_topk" -> "similarity",
    "text_tokens" -> "text",
    "revenue_by_nation" -> "relational",
    "curation_funnel" -> "curation",
    "media_profile" -> "multimodal",
    "stratified_sample" -> "sampling",
    "stream_windowed" -> "streaming")
  // doc_rolling_fp calls the rolling_minhash kernel directly: ops.other_s
  val Modules = Seq("dedup", "similarity", "text", "relational", "curation", "multimodal",
    "sampling")

  /** Seed of the canary tables; the digests of [[CanaryQueries]] over
    * them are in `perfbench/expected.json`.
    */
  val Canary = 0L
  /** The queries without a DuckDB twin. */
  val CanaryQueries = Seq("lsh_topk", "doc_rolling_fp")
  val SetupReps = 3

  def run(spark: SparkSession, a: Args, t: Tracer, rep: Report): Unit = {
    val dataDir = s"${a.work}/ops/data"
    val outDir = s"${a.work}/ops/out"
    val names = Queries.filter(SparkEntry.queries.contains)
    Queries.filterNot(SparkEntry.queries.contains).foreach(n =>
      rep.check(s"query $n exists", ok = false))
    val order = permute(names, a.seed)

    // ---- set-up: the canary tables' digests, which also warm the JVM ----
    val canaryDir = s"${a.work}/ops/canary"
    DataGen.write(spark, canaryDir, Canary, ToySf, ToyDocs)
    rep.canary = CanaryQueries.map { n =>
      val d = rep.attempt(s"$n (canary)") { digest(SparkEntry.queries(n)(spark, canaryDir)) }
      spark.catalog.clearCache()
      s"$n=${d.getOrElse("failed")}"
    }.mkString(";")
    deleteDir(canaryDir)

    // ---- set-up: the seed's tables (median of several writes) ----
    val (sf, docs) = if (a.toy) (ToySf, ToyDocs) else (Sf, Docs)
    val setups = (1 to SetupReps).map(_ =>
      secondsOf(DataGen.write(spark, dataDir, a.seed, sf, docs))._2)
    rep.e2e("setup_s") = (medianOf(setups), "s")

    // ---- set-up: one pass compiles every plan and saves what is checked ----
    val oracle = SparkEntry.oracleSql
    val digests = mutable.Map.empty[String, String]
    val (_, warm) = secondsOf(order.foreach { n =>
      rep.attempt(s"$n (checked pass)") {
        val df = SparkEntry.queries(n)(spark, dataDir)
        if (oracle.contains(n)) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
        else digests(n) = digest(df)
      }
      spark.catalog.clearCache()
    })
    rep.layer("setup.warmup_s", warm, "s")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), names.filter(oracle.contains)
      .map(n => s"${Json.str(n)}:${Json.str(oracle(n))}").mkString("{", ",", "}"))
    System.gc()

    // ---- timed passes ----
    val walls = mutable.ArrayBuffer.empty[(String, Double)]
    val passes = mutable.ArrayBuffer.empty[Double]
    t.restartTotals()
    val timedStart = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - timedStart) / 1e9 < a.seconds) {
      var pass = 0.0
      order.foreach { n =>
        val layer = if (ModuleOf.get(n).contains("streaming")) "streaming" else "ops"
        val (_, s) = secondsOf(rep.attempt(n) {
          t.span(s"query.$n", layer) {
            SparkEntry.queries(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
          }
        })
        spark.catalog.clearCache()
        walls += n -> s
        pass += s
      }
      passes += pass
    }
    val timedWall = (System.nanoTime() - timedStart) / 1e9
    // results without a DuckDB twin: the digest must repeat
    digests.foreach { case (n, d) =>
      rep.check(s"$n digest repeats", digest(SparkEntry.queries(n)(spark, dataDir)) == d)
      spark.catalog.clearCache()
    }
    rep.outcome = digests.toSeq.sorted.map { case (n, d) => s"$n=$d" }.mkString(";")

    // the typical query: a geometric mean, because the median of nine
    // unlike walls jumps between queries when one of them moves
    rep.e2e("op_s") = (math.exp(walls.map(w => math.log(w._2)).sum / walls.size), "s")
    rep.e2e("pass_s") = (medianOf(passes.toSeq), "s")
    rep.layer("ops_suite_s", medianOf(passes.toSeq), "s")
    rep.layer("query_s", medianOf(walls.map(_._2).toSeq), "s")
    val (tl, tv) = tail(walls.map(_._2).toSeq)
    rep.layer("query_tail_s", tv, "s")
    rep.notes += "query medians: " + walls.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, xs) => f"$n=${medianOf(xs.map(_._2).toSeq)}%.3f" }.mkString(" ")
    rep.notes += s"ops_suite queries=${names.size} passes=${passes.size} " +
      s"samples=${walls.size} tail=$tl oracle=${names.count(oracle.contains)} " +
      s"digest=${digests.size}"

    // per module: summed walls of the queries calling it, per pass
    val perPass = 1.0 / passes.size
    (Modules.map(m => s"ops.${m}_s" -> m) :+ ("streaming.wall_s" -> "streaming"))
      .foreach { case (k, m) =>
        rep.layer(k, walls.collect { case (n, s) if ModuleOf.get(n).contains(m) => s }.sum *
          perPass, "s")
      }
    rep.layer("ops.other_s", walls.collect { case (n, s) if !ModuleOf.contains(n) => s }.sum *
      perPass, "s")

    if (t.enabled) {
      t.drain()
      sparkLayer(rep, t.all, timedWall, a.cores)
      kernels(spark, t, rep, if (a.toy) 20000 else 100000)
    }
    rep.e2e("disk_mb") = (dirBytes(s"${a.work}/ops") / 1e6, "MB")
  }

  /** ns per row of each custom Catalyst kernel over a fixed generated
    * column into the `noop` sink, minus a pass-through projection of the
    * same cached input (median of three each).
    */
  def kernels(spark: SparkSession, t: Tracer, rep: Report, rows: Long): Unit = {
    val in = spark.range(0, rows, 1, 4).select(
      transform(sequence(lit(1), lit(16)), i =>
        concat(lit("s"), pmod(xxhash64(col("id"), i), lit(5000L)).cast("string"))).as("sh"),
      array_sort(transform(sequence(lit(1), lit(32)), i =>
        pmod(xxhash64(col("id"), i), lit(100000L)))).as("a"),
      array_sort(transform(sequence(lit(1), lit(32)), i =>
        pmod(xxhash64(col("id") + 1, i), lit(100000L)))).as("b"),
      concat_ws(" ", transform(sequence(lit(1), lit(40)), i =>
        pmod(xxhash64(col("id"), i, lit(7)), lit(997L)).cast("string"))).as("text"),
      transform(sequence(lit(1), lit(64)), i =>
        (pmod(xxhash64(col("id"), i, lit(9)), lit(2001L)) - 1000) / 1000.0).as("emb"))
      .cache()
    in.count()
    def wall(c: org.apache.spark.sql.Column): Double = medianOf((1 to 3).map(_ =>
      secondsOf(in.select(c.as("o")).write.format("noop").mode("overwrite").save())._2))
    Seq(
      "minhash_sigs" -> (MinHashSigs(col("sh"), 64, 42L), col("sh")),
      "sorted_intersect_count" -> (SortedIntersectCount(col("a"), col("b")),
        struct(col("a"), col("b"))),
      "rolling_minhash" -> (graft.functions.functions.rolling_minhash(col("text"), 5),
        col("text")),
      "sign_lsh_bands" -> (SignLshBands(col("emb"), 8, 16, 42L), col("emb"))
    ).foreach { case (name, (kernel, pass)) =>
      t.span(s"functions.$name", "functions") {
        val k = wall(kernel); val p = wall(pass)
        rep.layer(s"functions.$name.ns_per_row", math.max(0.0, (k - p) * 1e9 / rows), "ns")
      }
    }
    in.unpersist()
  }
}
