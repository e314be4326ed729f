package graft

import graft.canon.ConnectedComponents
import graft.extract.Extraction
import graft.fixtures.FilesGen
import graft.link.Linking

class LinkingCcSpec extends SparkSpec {
  import spark.implicits._

  private lazy val triples = Extraction.triples(
    Extraction.extract(FilesGen.dataset(spark, 400)))
  private lazy val ents = Linking.entities(triples).cache()
  private lazy val shingled = Some(Linking.shingleTable(ents))

  test("entity ids are collision-free on the fixture") {
    assert(ents.count() == ents.select("entityId").distinct().count())
  }

  /** canonical groups: entity surface form -> its component's members */
  private lazy val groups: Map[String, Set[String]] = {
    val links = Linking.linkEdges(ents, shingled)
    val cc = ConnectedComponents.run(links).assignments
      .withColumnRenamed("id", "entityId")
    val assigned = ents.join(cc, Seq("entityId"), "left")
      .select($"obj", org.apache.spark.sql.functions.coalesce($"comp", $"entityId").as("c"))
      .as[(String, Long)].collect()
    val byComp = assigned.groupBy(_._2).values
      .map(_.map(_._1).toSet).toSeq
    byComp.flatMap(s => s.map(_ -> s)).toMap
  }

  test("exact-norm variants unite (case, trailing dot)") {
    assert(groups("Docs.Example.Org") == groups("docs.example.org"))
    assert(groups("docs.example.org.") == groups("docs.example.org"))
    assert(groups("API.ACME.IO") == groups("api.acme.io"))
  }

  test("fuzzy variants unite via LSH (www. prefix, dropped article)") {
    assert(groups("www.docs.example.org") == groups("docs.example.org"))
    assert(groups("www.api.acme.io") == groups("api.acme.io"))
    assert(groups("Pragmatic Programmer by Andrew Hunt") ==
      groups("The Pragmatic Programmer by Andrew Hunt"))
  }

  test("exact small-set path emits the same link edges as the LSH path") {
    // sizeHint below exactSmallThreshold routes through the exact
    // shingle-block join; on fixture scale (LSH recall 1.0) the two
    // paths must produce identical edge sets
    val viaLsh = Linking.linkEdges(ents, shingled)
      .as[(Long, Long)].collect().toSet
    val viaExact = Linking.linkEdges(ents, shingled, sizeHint = Some(1000L))
      .as[(Long, Long)].collect().toSet
    assert(viaExact == viaLsh,
      s"missing=${(viaLsh -- viaExact).take(3)} extra=${(viaExact -- viaLsh).take(3)}")
  }

  test("a parquet round-tripped shingle table links like the inline one") {
    // Pipeline links over its published ep_shingles snapshot; ad-hoc
    // callers pass the table inline. Same edges either way — a parquet
    // round-trip must not perturb shingles (sorted array<long> element
    // hashes) or ids.
    val dir = java.nio.file.Files.createTempDirectory("graft-shingles")
      .resolve("t").toString
    shingled.get.write.parquet(dir)
    val viaParquet = Linking.linkEdges(ents, Some(spark.read.parquet(dir)),
        sizeHint = Some(100000L))
      .as[(Long, Long)].collect().toSet
    val viaInline = Linking.linkEdges(ents, shingled,
        sizeHint = Some(100000L))
      .as[(Long, Long)].collect().toSet
    assert(viaParquet.nonEmpty && viaParquet == viaInline,
      s"missing=${(viaInline -- viaParquet).take(3)} " +
        s"extra=${(viaParquet -- viaInline).take(3)}")
  }

  test("distinct entities stay separate") {
    assert(groups("docs.example.org") != groups("api.acme.io"))
    assert(groups("docs.example.org") != groups("wiki.sample.net"))
    assert(groups("FastParse by Li Haoyi") !=
      groups("The Pragmatic Programmer by Andrew Hunt"))
  }

  test("entity population is data-proportional (long tail, not fixed pools)") {
    // the round-2 fixture capped out at ~140 entities at ANY corpus
    // size, making linking/CC fixed-cost toys; the long-tail generator
    // must keep entity count growing near-linearly while n is far
    // below the logical-id space
    def entCount(n: Int): Long = Linking.entities(Extraction.triples(
      Extraction.extract(FilesGen.dataset(spark, n)))).count()
    val e1 = entCount(500)
    val e4 = entCount(2000)
    assert(e1 > 500, s"500 files must already mint hundreds of entities, got $e1")
    assert(e4 > e1 * 25 / 10, s"4x corpus must give >2.5x entities: $e1 -> $e4")
  }

  test("pathological band buckets expand as a star: bounded candidates, same components") {
    import org.apache.spark.sql.functions._
    // 34 cyclic rotations of one 34-char cycle: every rotation (padded
    // past one full period) has the SAME set of 34 char-3-shingles but
    // a DISTINCT norm — so the exact-norm path links nothing, while
    // every band sees ONE bucket of 34 identical-signature forms. With
    // maxBandBucket below that, candidates must collapse from
    // C(34,2)·b clique duplicates to the star (33 per band), and —
    // because a same-signature bucket here is a true J=1 clique — the
    // scored fuzzy edges alone must still produce ONE component.
    val cycle = "abcdefghijklmnopqrstuvwxyz01234567"
    val tripled = cycle + cycle + cycle
    val variants = (0 until cycle.length).map(k =>
      tripled.substring(k, k + cycle.length + 4))
    assert(variants.distinct.size == cycle.length)
    val ents = Linking.entitiesOf(
      variants.toDF("obj").withColumn("pred", lit("tagged")))
    val cfgCap = Linking.Config(maxBandBucket = 10)
    val shingled = Linking.withShingles(ents, Linking.ShingleSize)
    val capped = Linking.lshCandidates(shingled, cfgCap, variants.size.toLong)
      .collect()
    val full = Linking.lshCandidates(shingled,
      Linking.Config(), variants.size.toLong).collect()
    assert(capped.length < full.length / 5,
      s"star expansion must collapse the bucket: capped=${capped.length} full=${full.length}")
    // star candidates per band = s-1; 20 bands of the same bucket
    assert(capped.length == 20 * (variants.size - 1), s"got ${capped.length}")
    // connectivity preserved end-to-end through the FUZZY path alone
    // (distinct norms → zero exact-norm edges; sizeHint forces banded)
    def comps(cfg: Linking.Config): Long = {
      val links = Linking.linkEdges(ents, Some(Linking.shingleTable(ents)),
        cfg, sizeHint = Some(100000L))
      val (assign, _) = graft.Pipeline.assignCanonical(ents, links)
      assign.select("canonicalId").distinct().count()
    }
    assert(comps(cfgCap) == 1L && comps(Linking.Config()) == 1L)

    // and on the real fixture: capped candidates are a SUBSET of the
    // uncapped set (the guard can only drop clique-interior pairs),
    // and a cap no bucket reaches changes nothing
    val fixtureFuzzy = LinkingCcSpec.this.ents.filter(
      org.apache.spark.sql.functions.col("pred").isin(Linking.FuzzyPreds: _*))
    val sh2 = Linking.withShingles(fixtureFuzzy, Linking.ShingleSize)
    val nf = fixtureFuzzy.count()
    def candSet(cap: Int) =
      Linking.lshCandidates(sh2, Linking.Config(maxBandBucket = cap), nf)
        .select("src", "dst").as[(Long, Long)].collect().toSet
    val uncapped = candSet(Int.MaxValue)
    assert(candSet(10000) == uncapped, "default cap must not bind on the fixture")
    assert(candSet(2).subsetOf(uncapped), "capped must be a subset")
  }

  test("kg_nodes_fuzzy gate corpus: char-shingle dfs stay far below the stop cap") {
    // the kg_nodes_fuzzy/banded DuckDB twins compute candidates over
    // ALL shingles while the Spark operator blocks on stop-filtered
    // sets (df > cap dropped) — the hash gate is sound only while no
    // char-shingle df approaches the cap on the gate corpus. Guard the
    // headroom explicitly so a fixture/SF change that closes it fails
    // HERE, not as a flaky correctness hash. (Round-3 ADVICE #1; the
    // round-4 fix also made the query pass sizeHint=None so the cap
    // uses the true fuzzy population, never an underestimate.)
    import org.apache.spark.sql.functions._
    val words = graft.ops.TextOps.distinctWords(
        spark.read.parquet(s"${sfDir("0.01")}/documents.parquet"))
      .select($"word").distinct()
      .filter(length($"word") >= 3)
    val base = words.select($"word".as("obj"))
    val variants = words
      .filter(length($"word") % 2 === 0 || length($"word") === 3)
      .select(concat($"word", lit("x")).as("obj"))
    val forms = base.unionByName(variants).distinct()
      .select(Linking.normCol($"obj").as("norm")).distinct()
    val n = forms.count()
    val cap = Linking.Config().stopShingleCap(n)
    val maxDf = forms
      .select(explode(expr(
        "array_distinct(transform(sequence(1, greatest(length(norm) - 2, 1)), i -> substring(norm, i, 3)))"))
        .as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .agg(max($"df")).head().getLong(0)
    assert(maxDf * 2 <= cap,
      s"max char-shingle df $maxDf within 2x of stop cap $cap on $n forms — " +
        "the fuzzy-gate twins would diverge from the blocked operator")
  }

  test("connected components match brute-force union-find on random graphs") {
    for (seed <- Seq(1, 7, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val edges = (0 until 300).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      // brute force
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // the contract is the non-identity DELTA: roots are absent and
      // resolve by coalesce downstream
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          var r = v.toInt; while (parent(r) != r) r = parent(r); r.toLong
        }).filter { case (v, r) => v != r }.toMap
      // both paths must agree with brute force: the distributed
      // star-join fixpoint (localThreshold=0) and the driver-side
      // union-find fast path (default threshold)
      val distributed = ConnectedComponents.run(edges.toDF("src", "dst"),
          localThreshold = 0L)
        .assignments.as[(Long, Long)].collect().toMap
      val local = ConnectedComponents.run(edges.toDF("src", "dst"))
        .assignments.as[(Long, Long)].collect().toMap
      assert(distributed == expected, s"distributed seed=$seed")
      assert(local == expected, s"local seed=$seed")
    }
  }

  test("cc of empty and of single-edge graphs (both paths)") {
    for (thr <- Seq(0L, ConnectedComponents.LocalEdgeThreshold)) {
      assert(ConnectedComponents.run(
        Seq.empty[(Long, Long)].toDF("src", "dst"),
        localThreshold = thr).assignments.count() == 0)
      val one = ConnectedComponents.run(Seq((5L, 2L)).toDF("src", "dst"),
          localThreshold = thr)
        .assignments.as[(Long, Long)].collect().toMap
      // delta contract: the root 2 is absent (identity by coalesce)
      assert(one == Map(5L -> 2L))
    }
  }

  test("CC r8: edgeCountHint paths and duplicate/reversed edges give identical assignments") {
    import graft.canon.ConnectedComponents
    // duplicates + a reversed edge: the round-8 fast path feeds the
    // union-find RAW edges (no distinct), so tolerance is load-bearing
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 2L), (2L, 1L), (9L, 8L))
      .toDF("src", "dst")
    val expected = Set((2L, 1L), (3L, 1L), (9L, 8L))
    def assigns(r: ConnectedComponents.Result): Set[(Long, Long)] =
      r.assignments.as[(Long, Long)].collect().toSet
    // hint-less (cached count) local path
    assert(assigns(ConnectedComponents.run(edges)) == expected)
    // hinted small: straight to the union-find, zero decision jobs
    assert(assigns(ConnectedComponents.run(edges,
      edgeCountHint = Some(5L))) == expected)
    // hinted large + localThreshold 0: the distributed star fixpoint
    val ck = java.nio.file.Files.createTempDirectory("cc-ck").toString
    spark.sparkContext.setCheckpointDir(ck)
    try assert(assigns(ConnectedComponents.run(edges,
      localThreshold = 0L, edgeCountHint = Some(5L))) == expected)
    finally graft.store.Snapshots.deleteDir(ck)
  }
}
