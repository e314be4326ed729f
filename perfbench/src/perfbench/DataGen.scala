package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the query suite's tables: the TPC-H-like star
  * schema plus `events`, `documents` and `embeddings`, with the column
  * names, types and value ranges the queries and their DuckDB twins
  * read. Every value is a pure function of (seed, table, row, field),
  * so the same seed gives byte-identical tables at any parallelism.
  *
  * `sf` scales row counts like TPC-H (lineitem ≈ 6M·sf rows).
  */
object DataGen {

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double,
            docs: Int): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = n(15000)

    // uniform [0,1) and integer [0,m) draws, one stream per (table, field)
    def u(t: Int, f: Int): Column =
      pmod(xxhash64(lit(seed), lit(t), lit(f), col("id")), lit(1000000007L))
        .cast("double") / 1000000007.0
    def k(t: Int, f: Int, m: Long): Column = floor(u(t, f) * m).cast("long")
    def pick(t: Int, f: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (k(t, f, xs.size.toLong) + 1).cast("int"))
    def money(c: Column): Column = round(c, 2)
    def day(from: String, days: Int, c: Column): Column =
      to_timestamp(date_add(to_date(lit(from)), c.cast("int")))
    // one plain parquet file per table, as the queries' streaming sources
    // stage them by copying `<name>.parquet`
    val tasks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def save(df: DataFrame, name: String): Unit = tasks += (() => saveNow(df, name))
    def saveNow(df: DataFrame, name: String): Unit = {
      val tmp = s"$dir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Main.deleteDir(tmp)
    }
    def range(m: Long): DataFrame = spark.range(0, m, 1, 4).toDF()

    save(spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name"), "region")
    save(range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")
    save(range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      k(1, 1, 25).cast("int").as("c_nationkey"),
      money(u(1, 2) * 10999.8 - 999.9).as("c_acctbal"),
      pick(1, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), "customer")
    save(range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      k(2, 1, 25).cast("int").as("s_nationkey"),
      money(u(2, 2) * 10999.8 - 999.9).as("s_acctbal")), "supplier")
    save(range(nPart).select(col("id").as("p_partkey"),
      concat(pick(3, 1, Seq("small", "large", "hot", "cold", "blue", "red",
        "old", "new")), lit(" "), pick(3, 2, Seq("ring", "bolt", "plate",
        "gear", "widget", "valve", "spring", "nut"))).as("p_name"),
      concat(lit("Brand#"), k(3, 3, 25) + 1).as("p_brand"),
      pick(3, 4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (k(3, 5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 1).as("p_retailprice")), "part")
    save(range(nOrd).select(col("id").as("o_orderkey"),
      k(4, 1, nCust).as("o_custkey"),
      pick(4, 2, Seq("O", "F", "P")).as("o_orderstatus"),
      money(u(4, 3) * 499000 + 1000).as("o_totalprice"),
      day("1995-01-01", 2404, k(4, 4, 2404)).as("o_orderdate"),
      pick(4, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), "orders")
    val qty = (k(5, 5, 50) + 1).cast("double")
    save(range(nLine).select(k(5, 1, nOrd).as("l_orderkey"),
      k(5, 2, nPart).as("l_partkey"), k(5, 3, nSupp).as("l_suppkey"),
      (k(5, 4, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      money(qty * (lit(900.0) + u(5, 6) * 1200)).as("l_extendedprice"),
      (k(5, 7, 11) / 100.0).as("l_discount"),
      (k(5, 8, 9) / 100.0).as("l_tax"),
      pick(5, 9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(5, 10, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", 2498, k(5, 11, 2498)).as("l_shipdate")), "lineitem")
    // events are in time order: event i falls in the i-th slice of 30 days
    val slice = 30L * 86400L * 1000000L / nEv
    save(range(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * slice +
        k(6, 1, slice)).as("ts"),
      k(6, 2, nUsers).as("user_id"),
      pick(6, 3, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      money(pow(u(6, 4), 2) * 560).as("value"),
      concat(lit("{\"k\": "), k(6, 5, 100), lit("}")).as("props")), "events")

    // documents: word-salad over the queries' vocabulary; every 20th doc
    // is a one-word edit of its predecessor and every 50th an exact copy
    // of an earlier doc, so the dedup and near-duplicate queries find work
    val vocab = Seq("a", "the", "data", "table", "row", "column", "key", "value",
      "join", "agg", "group", "filter", "sort", "merge", "scan", "hash",
      "window", "stream", "batch", "query", "spark", "vector", "customer",
      "order", "part", "line", "big", "small", "fast", "slow", "dup")
    def words(id: Column, f: Int): Column = {
      val len = (pmod(xxhash64(lit(seed), lit(7), lit(f), id), lit(90L)) + 10).cast("int")
      transform(sequence(lit(1), len), i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(8), id, i), lit(vocab.size.toLong)) + 1).cast("int")))
    }
    val src = when(col("id") % 50 === 49, col("id") - 3)
      .when(col("id") % 20 === 19, col("id") - 1).otherwise(col("id"))
    val base = words(src, 1)
    val edited = when(col("id") % 20 === 19 && col("id") % 50 =!= 49,
      transform(base, (w, i) => when(i === 2, lit("dup")).otherwise(w)))
      .otherwise(base)
    save(range(docs.toLong).select(col("id").as("doc_id"),
      array_join(edited, " ").as("text"),
      when(u(7, 2) < 0.44, lit("en")).otherwise(pick(7, 3, Seq("de", "es",
        "fr", "zh"))).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: unit vectors around one of ten label centres
    val dim = 64
    def gauss(f: Column, g: Column): Column = {
      val a = pmod(xxhash64(lit(seed), lit(9), f, g), lit(1000000007L)).cast("double") /
        1000000007.0 + 1e-9
      val b = pmod(xxhash64(lit(seed), lit(10), f, g), lit(1000000007L)).cast("double") /
        1000000007.0
      sqrt(log(a) * -2.0) * cos(b * 2 * math.Pi)
    }
    val raw = range(docs.toLong).select(col("id").as("vec_id"),
      k(11, 1, 10).cast("int").as("label"))
      .withColumn("v", transform(sequence(lit(0), lit(dim - 1)), i =>
        gauss(col("label"), i) + gauss(col("vec_id") + 1000, i) * 0.6))
      .withColumn("norm", sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)))
    save(raw.select(col("vec_id"),
      transform(col("v"), x => (x / col("norm")).cast("float")).as("embedding"),
      col("label")), "embeddings")
    // the tables are independent small jobs: write them concurrently
    Main.parallel(tasks.toSeq)
  }
}
