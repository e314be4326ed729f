package graft.tools

import org.apache.spark.sql.SparkSession

/** Round-8 plan capture: write `.explain("formatted")` of named
  * SparkEntry queries to files (plans/<tag>/<name>_<suffix>.txt) so
  * optimization claims about plan shape (Exchange count, join
  * strategy, PushedFilters) are checkable without running Spark.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> [names...]
  * (no names = all queries). Orchestration queries (kg_nodes_*,
  * stream_kg_ingest) RUN their side-effecting pipelines when the query
  * function is invoked; the captured plan is the returned frame's —
  * the maintained-graph read — which is what the query returns to the
  * driver. Per-stage pipeline work is measured by the dedicated
  * stage tools (TailBench, SteadyStateBench) instead.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <outDir> <suffix> [names...]")
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val fn = graft.SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query '$name'"))
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"EXPLAIN $name -> $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"EXPLAIN $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
