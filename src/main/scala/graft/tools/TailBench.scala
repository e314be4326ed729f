package graft.tools

import graft.Pipeline
import graft.fixtures.FilesGen
import graft.store.Snapshots
import org.apache.spark.sql.SparkSession

/** The CANONICALIZE TAIL of an epoch-pinned ingest: the global tail
  * (Config.deferMerges = false — global CC + full assign/nodes/edges
  * rewrite) vs the O(delta) merge-on-read tail (the default —
  * append-only snapshots + canon log, Pipeline.mergeOnReadTail)
  * — across growing BASE corpora at a FIXED delta. The claim under
  * test: with the merge-on-read tail, total ingest wall stops tracking
  * corpus size and tracks the delta.
  *
  * Both paths start from byte-identical copies of the same pinned
  * base run, ingest the same delta, and the resulting graphs are
  * compared through the resolving readers (Pipeline.readNodes /
  * readEdges): counts at every size, full exceptAll on nodes+edges at
  * the smallest size.
  *
  * Usage: runMain graft.tools.TailBench [basesCsv] [m]
  *   defaults: 100000,200000,400000  1000
  */
object TailBench {
  def main(args: Array[String]): Unit = {
    val bases = args.headOption.getOrElse("100000,200000,400000")
      .split(',').map(_.trim.toLong).toSeq
    val m = args.lift(1).map(_.toLong).getOrElse(1000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-tail-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft-tail").toString
    spark.sparkContext.setCheckpointDir(s"$root/_checkpoints")
    val richness = sys.env.getOrElse("SPARK_GRAFT_RICHNESS", "8").toInt
    def rd(dir: String) = spark.read.parquet(dir).as[graft.SourceFile]
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    bases.foreach { n =>
      def cfg(inc: Boolean) = Pipeline.Config(
        canonBuckets = Some(64), deferMerges = inc)
      val baseDir = s"$root/files_base_$n"
      FilesGen.dataset(spark, n, richness = richness)
        .write.mode("overwrite").parquet(baseDir)
      val deltaDir = s"$root/files_delta_$n"
      FilesGen.dataset(spark, m, richness = richness, start = n)
        .write.mode("overwrite").parquet(deltaDir)

      val run = s"$root/run_$n"
      val tBase = timed(Pipeline.run(spark, rd(baseDir), run, "base",
        cfg(inc = true)))
      val tPin = timed(Pipeline.pinEpoch(spark, run, "pin", cfg(inc = true)))
      val runG = s"$root/runG_$n"
      copyDir(run, runG)

      // GLOB first, INC second? Alternate per size: the first ingest
      // pays cold page cache + codegen warmup for both shared and
      // path-specific plans — alternation exposes that bias instead
      // of baking it into one side.
      val incFirst = sys.env.get("SPARK_GRAFT_TAIL_ORDER") match {
        case Some("inc")  => true
        case Some("glob") => false
        case _            => bases.indexOf(n) % 2 == 0
      }
      var tIncTail = 0.0; var tGlobTail = 0.0
      var ioInc = ""; var ioGlob = ""
      def runInc(): Unit = {
        graft.store.IOStat.reset()
        tIncTail = timed(Pipeline.runIncrementalPinned(
          spark, rd(deltaDir), run, "delta", cfg(inc = true)))
        ioInc = graft.store.IOStat.report()
      }
      def runGlob(): Unit = {
        graft.store.IOStat.reset()
        tGlobTail = timed(Pipeline.runIncrementalPinned(
          spark, rd(deltaDir), runG, "delta", cfg(inc = false)))
        ioGlob = graft.store.IOStat.report()
      }
      if (incFirst) { runInc(); runGlob() } else { runGlob(); runInc() }
      println(s"[tailbench]   order: ${if (incFirst) "INC,GLOB" else "GLOB,INC"}")

      def w(dir: String, st: String): Double =
        Snapshots.readManifest(dir, st).wallMs / 1e3
      val am = Snapshots.readManifest(run, "assign")
      require(am.metrics.get("defer").contains("true") &&
        Pipeline.canonLogDirty(run),
        s"n=$n: merge-on-read tail fell back to global — bench invalid")
      val tailInc = Seq("assign", "nodes", "edges").map(w(run, _)).sum
      val tailGlob = Seq("assign", "nodes", "edges").map(w(runG, _)).sum
      println(f"[tailbench] n=$n%7d m=$m " +
        f"base=$tBase%6.1fs pin=$tPin%5.1fs | " +
        f"ingestINC=$tIncTail%6.1fs (tail=$tailInc%5.1fs) " +
        f"ingestGLOB=$tGlobTail%6.1fs (tail=$tailGlob%5.1fs) " +
        f"merges=${am.metrics("merges")} " +
        f"logRows=${Snapshots.readManifest(run, Pipeline.CanonLogStage).rows} " +
        f"drift=${Snapshots.readManifest(run, "ep_keys").metrics.getOrElse("censusDrift", "?")}")
      println(f"[tailbench]   tail stages INC : assign=${w(run, "assign")}%5.1fs " +
        f"nodes=${w(run, "nodes")}%5.1fs edges=${w(run, "edges")}%5.1fs " +
        f"probe=${am.metrics.getOrElse("probeSec", "?")}s " +
        f"uf=${am.metrics.getOrElse("ufSec", "?")}s")
      println(f"[tailbench]   tail stages GLOB: assign=${w(runG, "assign")}%5.1fs " +
        f"nodes=${w(runG, "nodes")}%5.1fs edges=${w(runG, "edges")}%5.1fs")
      def pre(dir: String): Double =
        Seq("extract", "entities", "ep_shingles", "ep_keys", "link_edges")
          .map(w(dir, _)).sum
      def km(dir: String, key: String): String = Snapshots
        .readManifest(dir, "ep_keys").metrics.getOrElse(key, "?")
      def fm(dir: String, st: String): String = Snapshots
        .readManifest(dir, st).metrics.getOrElse("footerSec", "-")
      println(f"[tailbench]   pre-tail stages: INC=${pre(run)}%5.1fs " +
        f"GLOB=${pre(runG)}%5.1fs driftSec=${km(run, "driftSec")}/" +
        f"${km(runG, "driftSec")} " +
        f"footerSec=${fm(run, "assign")}+${fm(run, "nodes")}+${fm(run, "edges")} " +
        f"(unaccounted INC=${tIncTail - tailInc - pre(run)}%5.1fs " +
        f"GLOB=${tGlobTail - tailGlob - pre(runG)}%5.1fs)")
      println(s"[tailbench]   iostat INC : $ioInc")
      println(s"[tailbench]   iostat GLOB: $ioGlob")

      // graph equality between the two tails
      val cols = Seq("canonicalId", "canonical", "kind", "memberCount")
      val nInc = Pipeline.readNodes(spark, run).selectExpr(cols: _*)
      val nGlob = Pipeline.readNodes(spark, runG).selectExpr(cols: _*)
      val ecols = Seq("subj", "pred", "canonicalId")
      val eInc = Pipeline.readEdges(spark, run).selectExpr(ecols: _*)
      val eGlob = Pipeline.readEdges(spark, runG).selectExpr(ecols: _*)
      if (n == bases.min) {
        val d1 = nInc.exceptAll(nGlob).count() + nGlob.exceptAll(nInc).count()
        val d2 = eInc.exceptAll(eGlob).count() + eGlob.exceptAll(eInc).count()
        println(s"[tailbench]   exceptAll nodes=$d1 edges=$d2 (must be 0/0)")
        require(d1 == 0 && d2 == 0, "merge-on-read tail diverged from global")
      } else {
        val c = (nInc.count(), nGlob.count(), eInc.count(), eGlob.count())
        println(s"[tailbench]   counts nodes=${c._1}/${c._2} edges=${c._3}/${c._4}")
        require(c._1 == c._2 && c._3 == c._4, "count mismatch")
      }
      // free the per-size corpora/run dirs before the next size
      Seq(baseDir, deltaDir, run, runG).foreach(Snapshots.deleteDir)
    }
    spark.stop()
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Path.of(from)
    val walk = java.nio.file.Files.walk(src)
    try {
      val it = walk.iterator()
      while (it.hasNext) {
        val p = it.next()
        val dst = java.nio.file.Path.of(to).resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      }
    } finally walk.close()
  }
}
