package graft.tools

import graft.Pipeline
import graft.fixtures.FilesGen
import graft.store.Snapshots
import org.apache.spark.sql.SparkSession

/** STEADY-STATE ingestion — K successive pinned ingests of a
  * fixed-size delta into the same run. A single-ingest bench cannot
  * see terms that grow with INGEST COUNT; this one runs the production
  * maintenance shape and reports them per ingest: the merge-on-read
  * tail (append-only snapshots + canon log) with the fold trigger at
  * foldFrac, expiry of every version a fold unpinned, and a lineage
  * fold at 4 append sets. Per ingest: append write volume, live
  * append sets (the binary-counter cascade keeps them O(log K)),
  * canon-log rows, disk.
  *
  * The correctness twin is a from-scratch run over the base and every
  * delta under the chain's pinned census (as the PipelineSpec pinned
  * specs compare); the two final graphs are compared with exceptAll
  * through the resolving readers. The merge-on-read read tax is priced
  * at the end.
  *
  * Usage: runMain graft.tools.SteadyStateBench [n] [m] [k] [foldFrac]
  *   defaults: 200000 50000 8 0.1
  */
object SteadyStateBench {
  private val Tail = Seq("assign", "nodes", "edges")

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val m = args.lift(1).map(_.toLong).getOrElse(50000L)
    val k = args.lift(2).map(_.toInt).getOrElse(8)
    val foldFrac = args.lift(3).map(_.toDouble).getOrElse(0.1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-steady-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = java.nio.file.Files.createTempDirectory("graft-steady")
      .toString
    spark.sparkContext.setCheckpointDir(s"$root/_checkpoints")
    val richness = sys.env.getOrElse("SPARK_GRAFT_RICHNESS", "8").toInt
    // the banded fuzzy path everywhere: equality with the from-scratch
    // twin holds path-for-path (the exact small-set path surfaces a
    // candidate superset)
    val link = graft.link.Linking.Config(exactSmallThreshold = 0L)
    val cfgMor = Pipeline.Config(link = link, canonBuckets = Some(64),
      compactAppendFrac = Some(foldFrac), maxLineageDeltas = Some(4))
    def rd(dir: String) = {
      import spark.implicits._
      spark.read.parquet(dir).as[graft.SourceFile]
    }
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    println(s"[steady] n=$n m=$m k=$k foldFrac=$foldFrac cpus=$cpus")
    val baseDir = s"$root/files_base"
    FilesGen.dataset(spark, n, richness = richness)
      .write.mode("overwrite").parquet(baseDir)
    val deltaDirs = (1 to k).map { i =>
      val d = s"$root/files_delta_$i"
      FilesGen.dataset(spark, m, richness = richness,
        start = n + (i - 1) * m).write.mode("overwrite").parquet(d)
      d
    }

    val runM = s"$root/runM"
    val tBase = timed(Pipeline.run(spark, rd(baseDir), runM, "base",
      cfgMor))
    val tPin = timed(Pipeline.pinEpoch(spark, runM, "pin", cfgMor))
    println(f"[steady] base=$tBase%.1fs pin=$tPin%.1fs")

    def mb(x: Long): Double = x / 1048576.0
    def report(tag: String, i: Int, dir: String, wall: Double): Unit = {
      // own append write volume of THIS ingest's publishes, from the
      // live manifests (fileBytes keys are snapshot-relative)
      val appendWrite = Tail.map { st =>
        Snapshots.readManifest(dir, st).fileBytes
          .map(_.collect { case (p, by) if p.startsWith("append") => by }.sum)
          .getOrElse(0L)
      }.sum
      val am = Snapshots.readManifest(dir, "assign")
      val logRows =
        if (Snapshots.isComplete(dir, Pipeline.CanonLogStage))
          Snapshots.readManifest(dir, Pipeline.CanonLogStage).rows
        else 0L
      val tailWall = Tail
        .map(st => Snapshots.readManifest(dir, st).wallMs / 1e3).sum
      val (netApp, sets) = Tail.map(st =>
        Snapshots.appendStats(Snapshots.readManifest(dir, st)))
        .reduce((a, c) => (a._1 + c._1, a._2 + c._2))
      println(f"[steady] i=$i%2d $tag%-6s wall=$wall%6.1fs " +
        f"tail=$tailWall%5.1fs appendWrite=${mb(appendWrite)}%7.1fMB " +
        f"appendRows=$netApp%9d sets=$sets%2d " +
        f"absorbed=${am.metrics.getOrElse("absorbedSets", "-")}%s " +
        f"merges=${am.metrics.getOrElse("merges", "-")}%s " +
        f"compacted=${am.metrics.getOrElse("compacted", "-")}%s " +
        f"logRows=$logRows%s du=${mb(duDir(dir))}%7.1fMB")
    }

    (1 to k).foreach { i =>
      val w = timed(Pipeline.runIncrementalPinned(
        spark, rd(deltaDirs(i - 1)), runM, s"d$i", cfgMor))
      // expire what the fold (if one fired) unpinned
      val freed = Tail.map { st =>
        val live = Snapshots.readManifest(runM, st).version
        Snapshots.versions(runM, st).filter(_ != live).reverse.count { v =>
          scala.util.Try(Snapshots.expire(runM, st, v)).isSuccess
        }
      }.sum
      report("MOR", i, runM, w)
      if (freed > 0) println(s"[steady] i=$i MOR expired $freed versions")
    }

    val cols = Seq("canonicalId", "canonical", "kind", "memberCount")
    val ecols = Seq("subj", "pred", "canonicalId")
    def nodes(d: String) =
      Pipeline.readNodes(spark, d).selectExpr(cols: _*)
    def edges(d: String) =
      Pipeline.readEdges(spark, d).selectExpr(ecols: _*)
    // the merge-on-read READ TAX, priced: resolving read (broadcast
    // log join; nodes also re-aggregate) vs the raw stored snapshot
    def t(body: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (rn, sn) = t(nodes(runM).count())
    val (re, se) = t(edges(runM).count())
    val (rr, sr) = t(Snapshots.read(spark, runM, "nodes").count())
    println(f"[steady] readtax MOR dirty=${Pipeline.canonLogDirty(runM)} " +
      f"nodesResolved=$rn in $sn%.2fs edgesResolved=$re in $se%.2fs " +
      f"nodesRaw=$rr in $sr%.2fs")
    // from-scratch twin over base ∪ deltas under the pinned census
    val hot = Snapshots.read(spark, runM, "ep_census")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val runF = s"$root/runF"
    val tFull = timed(Pipeline.run(spark,
      (baseDir +: deltaDirs).map(rd).reduce(_ union _), runF, "full",
      cfgMor.copy(link = link.copy(pinnedHot = Some(hot)),
        compactAppendFrac = None, maxLineageDeltas = None)))
    val dn = nodes(runF).exceptAll(nodes(runM)).count() +
      nodes(runM).exceptAll(nodes(runF)).count()
    val de = edges(runF).exceptAll(edges(runM)).count() +
      edges(runM).exceptAll(edges(runF)).count()
    println(f"[steady] exceptAll FROM-SCRATCH ($tFull%.1fs) vs MOR: " +
      s"nodes=$dn edges=$de (must be 0/0)")
    require(dn == 0 && de == 0,
      "merge-on-read chain diverged from the from-scratch run")
    // several GB of run dirs at the bench shape — keep only on request
    if (sys.env.contains("SPARK_GRAFT_KEEP")) {
      println(s"[steady] done root=$root (kept: SPARK_GRAFT_KEEP)")
    } else {
      println(s"[steady] done (root deleted; set SPARK_GRAFT_KEEP=1 " +
        "to keep run dirs for inspection)")
      Snapshots.deleteDir(root)
    }
    spark.stop()
  }

  private def duDir(dir: String): Long = {
    val p = java.nio.file.Path.of(dir)
    if (!java.nio.file.Files.exists(p)) return 0L
    val w = java.nio.file.Files.walk(p)
    try {
      val it = w.iterator()
      var s = 0L
      while (it.hasNext) {
        val f = it.next()
        if (java.nio.file.Files.isRegularFile(f))
          s += java.nio.file.Files.size(f)
      }
      s
    } finally w.close()
  }
}
