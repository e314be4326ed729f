package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.IOStat

/** The benchmark's JVM side: runs one workload through graft's public
  * entry points and writes its measurements as one JSON object.
  *
  *   perfbench.Main --workload <kg_lifecycle|ops_suite> --seed <n>
  *     --seconds <s> --trace <0|1> --cores <n> --work <dir> --out <file>
  *     [--scale full|toy]
  *
  * `run.py` is the front end: it builds this, starts it, runs the
  * DuckDB output checks and prints the result.
  */
object Main {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val traced: Boolean = apply("trace") == "1"
    val cores: Int = apply("cores").toInt
    val work: String = apply("work")
    val out: String = apply("out")
    val toy: Boolean = m.get("scale").contains("toy")
  }

  /** What a workload reports. Layer metrics not set stay 0. */
  final class Report {
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.ArrayBuffer.empty[String]
    val failures = mutable.ArrayBuffer.empty[String]
    // what every run of one seed must reproduce (row counts, digests)
    var outcome = ""
    // the same for the fixed canary inputs, compared with perfbench/expected.json
    var canary = ""
    var attempted = 0L
    def layer(k: String, v: Double, unit: String): Unit = layers(k) = (v, unit)
    def attempt[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch { case e: Throwable =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
      }
    }
    def check(what: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) failures += s"check failed: $what"
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, a.traced, s"${a.workload}-${a.seed}")
    val heap = new HeapWatch
    val rep = new Report
    val t0 = System.nanoTime()
    a.workload match {
      case "kg_lifecycle" => KgLifecycle.run(spark, a, tracer, rep)
      case "ops_suite" => OpsSuite.run(spark, a, tracer, rep)
      case w => sys.error(s"unknown workload $w")
    }
    rep.layer("trace.listener_s", tracer.listenerSeconds, "s")
    rep.layer("bench.wall_s", (System.nanoTime() - t0) / 1e9, "s")
    rep.e2e("heap_peak_mb") = (heap.peakMb, "MB")
    if (a.traced) {
      Files.writeString(Paths.get(s"${a.work}/spans.jsonl"), tracer.spansJson + "\n")
      val self = tracer.selfTimes
      Files.writeString(Paths.get(s"${a.work}/self_times.json"), self.toSeq.sortBy(-_._2)
        .map { case (l, s) => f""""$l":$s%.4f""" }.mkString("{", ",", "}"))
    }
    spark.streams.active.foreach(_.stop())
    spark.stop()
    Files.writeString(Paths.get(a.out), Json.report(rep))
  }

  // ---------- shared helpers ----------

  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs independent Spark actions concurrently and waits for all. */
  def parallel(tasks: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size max 1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of p99/p95/p90/p75 with at least ten samples above it,
    * as (label, value); the maximum when there are too few samples.
    */
  def tail(xs: Seq[Double]): (String, Double) = {
    val s = xs.sorted; val n = s.length
    Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100.0 >= 10) match {
      case Some(p) => (s"p$p", s(math.min(n - 1, math.ceil(n * p / 100.0).toInt - 1)))
      case None => ("max", if (s.isEmpty) 0.0 else s.last)
    }
  }

  /** Order-independent digest of a frame's rows (count plus two sums of
    * per-row hashes); fully consumes every column. Maps are hashed
    * through their JSON form.
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name))
      else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))),
        sum(pmod(xxhash64(col("h")), lit(998244353L))))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally w.close()
    }
  }

  /** Seeded shuffle (Fisher–Yates over a splitmix-seeded Random). */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)

  /** Spark-wide counters of the timed section (traced runs). */
  def sparkLayer(rep: Report, tt: TaskTotals, wall: Double, cores: Int): Unit = {
    rep.layer("spark.jobs", tt.jobs.size.toDouble, "count")
    rep.layer("spark.tasks", tt.tasks.toDouble, "count")
    rep.layer("spark.busy_s", tt.runMs / 1e3, "s")
    rep.layer("spark.idle_frac", if (wall > 0) 1 - tt.runMs / 1e3 / (wall * cores) else 0, "ratio")
    rep.layer("spark.gc_s", tt.gcMs / 1e3, "s")
    rep.layer("spark.spill_mb", tt.diskSpill / 1e6, "MB")
  }

  def ioTotals(): (Long, Double) = IOStat.snapshot().values
    .foldLeft((0L, 0.0)) { case ((n, s), (c, x)) => (n + c, s + x) }
}

/** Peak heap in use right after a collection (the live heap, not the
  * heap the JVM reserved), over every collection since it was made.
  */
final class HeapWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      synchronized { peak = math.max(peak, used) }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def peakMb: Double = peak / 1e6
}

/** Minimal JSON writer for the report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
  def report(r: Main.Report): String =
    s"""{"attempted":${r.attempted},"failures":${r.failures.map(str).mkString("[", ",", "]")},""" +
      s""""notes":${r.notes.map(str).mkString("[", ",", "]")},"outcome":${str(r.outcome)},""" +
      s""""canary":${str(r.canary)},""" +
      s""""end_to_end":${metrics(r.e2e)},"per_layer":${metrics(r.layers)}}""" + "\n"
}
