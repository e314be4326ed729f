package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Golden tests for the operators that have no DuckDB oracle (seeded
  * LSH, xxhash64 SimHash): verified against brute-force computations
  * over collected small-scale data instead.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sfDir("0.01")
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("simhash word hash matches DuckDB md5_number_lower golden values") {
    // the dedup_simhash oracle pairing rests on this bit-identity:
    // Spark's reassembled little-endian uint64 of md5 bytes 8..15 must
    // equal DuckDB's md5_number_lower (values captured from DuckDB)
    val got = Dedup.simhash(
        Seq((1L, "a"), (2L, "hello world")).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    // single-word doc: every bit sum is ±1 directly from the word hash,
    // so simhash == the word hash's bit pattern
    assert(got(1L) == 7000413967451013937L) // md5_number_lower('a')
    // two distinct words: a bit is set iff BOTH hashes have it (agree →
    // sum ±2, disagree → sum 0 → bit 0), i.e. simhash = AND of hashes
    val hHello = java.lang.Long.parseUnsignedLong("10575884659879408057")
    val hWorld = java.lang.Long.parseUnsignedLong("16660491718927469399")
    assert(got(2L) == (hHello & hWorld))
  }

  test("simhash: deterministic, equal for identical text, banding is complete for hamming<=3") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    val sh2 = Dedup.simhash(docs.repartition(7)).as[(Long, Long)].collect().toMap
    assert(sh == sh2, "simhash must be partition-invariant")
    // guard against degenerate collapse (a broken hash makes every
    // simhash 0 and this test would vacuously pass: brute force and
    // banding both see all-equal fingerprints)
    assert(sh.values.toSet.size > docs.count() / 2,
      "simhash values collapsed — word hash is broken")

    // brute-force all pairs with hamming <= 3
    val ids = sh.keys.toSeq.sorted
    val expected = (for {
      i <- ids.iterator; j <- ids.iterator if i < j
      h = java.lang.Long.bitCount(sh(i) ^ sh(j)) if h <= 3
    } yield (i, j, h.toLong)).toSet
    val got = Dedup.simhashPairs(docs, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected,
      s"banded pairs must equal brute force; missing=${expected -- got} extra=${got -- expected}")
  }

  test("minhash band candidates contain every true J>=0.5 pair") {
    val exact = Dedup.ngramJaccardPairs(docs, n = 3, minJ = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain strong near-dups")
    val cand = Dedup.minhashBandCandidates(docs, n = 3)
      .as[(Long, Long)].collect().toSet
    // the minhash_neardup / dedup_minhash oracle pairings require
    // recall 1.0 over the gate's own data (the exact re-score can only
    // shrink the candidate set)
    assert(exact.subsetOf(cand),
      s"banding missed true pairs: ${(exact -- cand).take(5)}")
  }

  test("minhashSurvivors keeps exactly the component-min docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJ = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // independent oracle: plain-Scala union-find over the exact pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allIds = docs.select("doc_id").as[Long].collect().toSet
    val expected = allIds.filter(d => find(d) == d)
    val got = Dedup.minhashSurvivors(docs, n = 3, minJ = 0.5)
      .as[Long].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")

    // keep-best variant: same components, representative = argmax
    // quality (token count), tie -> min id
    val toks = docs.select($"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val byComp = allIds.groupBy(find)
    val expectedBest = byComp.values.map(members =>
      members.minBy(d => (-toks(d), d))).toSet
    val gotBest = Dedup.minhashSurvivorsBy(docs,
        size(split(trim($"text"), "\\s+")).cast("long"), n = 3, minJ = 0.5)
      .as[Long].collect().toSet
    assert(gotBest == expectedBest,
      s"missing=${(expectedBest -- gotBest).take(5)} extra=${(gotBest -- expectedBest).take(5)}")
    // one representative per component, and clusters with a longer
    // non-min member actually differ from the min-id rule
    assert(gotBest.size == expected.size)
  }

  test("fuzzyContaminated matches brute-force cross Jaccard; joins broadcast") {
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    val bench = docs.filter($"doc_id" % 50 === 0)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[String]] =
      Dedup.wordShingles(df, 3).as[(Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cs = sets(corpus); val bs = sets(bench)
    val expected = cs.flatMap { case (d, s) =>
      val js = bs.values.toSeq.map { t =>
        val i = (s & t).size
        i.toDouble / (s.size + t.size - i)
      }.filter(_ >= 0.5)
      if (js.isEmpty) None
      else Some(d -> (js.size.toLong,
        BigDecimal(js.max).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
    }
    val out = Dedup.fuzzyContaminated(corpus, bench, n = 3, minJ = 0.5)
    val got = out.as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.nonEmpty, "fixture must plant at least one fuzzy leak")
    // the bench/candidate sides ride broadcasts — no sort-merge join
    // ever touches the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("mixToBudget derives rates from token mass; unbiased kept mass; keep-all default") {
    import graft.ops.Sampling
    val toks = docs.select($"doc_id", $"source",
      size(split(trim($"text"), "\\s+")).cast("long").as("n_tokens"))
    val budgets = Map("src0" -> 400L, "src1" -> 1000000L, "src2" -> 700L)
    val got = Sampling.mixToBudget(toks, $"doc_id", $"source",
        $"n_tokens", budgets)
      .select($"doc_id", $"source", $"n_tokens")
      .as[(Long, String, Long)].collect()
    // equals stratifiedSample under the independently derived rates
    val sums = toks.groupBy("source").agg(sum($"n_tokens").as("s"))
      .as[(String, Long)].collect().toMap
    val rates = budgets.map { case (k, b) =>
      k -> math.min(1.0, b.toDouble / sums(k).toDouble) }
    val expected = Sampling.stratifiedSample(toks, $"doc_id", $"source",
        rates, defaultRate = 1.0)
      .select($"doc_id", $"source", $"n_tokens")
      .as[(Long, String, Long)].collect().toSet
    assert(got.toSet == expected)
    // budget-capped stratum (rate 1.0) and budget-less strata keep ALL
    val bySrc = got.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(bySrc("src1") == sums("src1"))
    assert(bySrc("src3") == sums("src3"))
    // downsampled strata land near their budget (hash sampling is
    // doc-count noise; 25 docs/stratum at sf0.01 → generous band)
    assert(bySrc("src0") > 0L && bySrc("src0") < sums("src0"))
    assert(math.abs(bySrc("src0") - 400L) < 300L, bySrc("src0").toString)
    // deterministic across partitionings
    val re = Sampling.mixToBudget(toks.repartition(7), $"doc_id",
        $"source", $"n_tokens", budgets)
      .select($"doc_id").as[Long].collect().toSet
    assert(re == got.map(_._1).toSet)
    // after the one derive-time aggregation, the returned frame is a
    // pure shuffle-free filter (same contract as stratifiedSample)
    val plan = Sampling.mixToBudget(toks, $"doc_id", $"source",
      $"n_tokens", budgets).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("stop-shingle blocking yields a conservative subset of full pairs") {
    val full = Dedup.ngramJaccardPairs(docs, n = 3, minJ = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // aggressive stop-shingle filter: common shingles dropped from the
    // blocking join; intersections can only shrink → pairs ⊆ full
    val blocked = Dedup.ngramJaccardPairs(docs, n = 3, minJ = 0.5,
        maxDocsPerShingle = 3L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(full), (blocked -- full).take(3))
    // near-dup docs share many RARE shingles, so the strong pairs survive
    assert(blocked.nonEmpty)
  }

  test("cosineTo matches plain-Scala cosine") {
    val rows = embs.limit(5).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val q = rows.head._2.map(_.toDouble)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val got = embs.filter($"vec_id".isin(rows.map(_._1): _*))
      .select($"vec_id", Similarity.cosineTo($"embedding", q).as("c"))
      .as[(Long, Double)].collect().toMap
    rows.foreach { case (id, v) =>
      val expected = cos(v.map(_.toDouble), q)
      assert(math.abs(got(id) - expected) < 1e-9, s"vec $id")
    }
  }

  test("lshTopK (sign-LSH band probe): recall floor, determinism, selective probe") {
    val q = embs.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.cosineTopK(embs, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.lshTopK(embs, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"lsh recall $recall too low: exact=$exact approx=$approx")
    // the query is a corpus vector: identical band keys, so it always
    // probes itself (cos 1.0 at rank 1)
    assert(approx.contains(0L))
    // deterministic (band keys are a pure function of (vector, seed) —
    // no fitted model, unlike the MLlib BRP-LSH this replaced) and
    // partition-invariant
    val again = Similarity.lshTopK(embs.repartition(7), q, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(again == approx)
    // and the probe is genuinely selective: candidates (rows sharing a
    // band key with the query) are a strict minority of the corpus —
    // the fraction a stored table would scan after bucket pruning
    val keyed = embs.select($"vec_id",
      graft.functions.SignLshBands(
        expr("transform(embedding, x -> cast(x as double))"), 32, 8, 42L)
        .as("keys"))
    val qKeys = graft.functions.SignLsh.bandKeysOf(q.toArray, 32, 8, 42L)
    val hit = (0 until 32).map(b => $"keys".getItem(b) === qKeys(b))
      .reduce(_ || _)
    val probed = keyed.filter($"keys".isNotNull && hit).count()
    assert(probed < embs.count() / 2,
      s"probe scanned $probed of ${embs.count()} rows — not selective")
  }

  test("nearDupPairs (LSH + exact re-score) equals brute force on the planted near-dup corpus") {
    // same corpus the lsh_neardup query plants: perturbed copies of
    // every 5th vector at cos ≈ 0.9999 against a ≤0.6 random background
    val base = embs.select($"vec_id",
      expr("transform(embedding, x -> cast(x as double))").as("embedding"))
    val pert = base.filter($"vec_id" % 5 === 0)
      .withColumnRenamed("vec_id", "orig")
      .select(($"orig" + 1000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> x * (1 + 0.01 * (((orig + i) % 3) - 1)))")
          .as("embedding"))
    val all = base.unionByName(pert)
    val exact = Similarity.cosineNearDupPairs(all, 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 100, s"expected 100 planted pairs, got ${exact.size}")
    val got = Similarity.nearDupPairs(all, 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == exact,
      s"missing=${(exact -- got).take(3)} extra=${(got -- exact).take(3)}")
  }

  test("minhashNearDupPairs (banding + exact re-score) equals exact ngram Jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, n = 3, minJ = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val got = Dedup.minhashNearDupPairs(docs, n = 3, minJ = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == exact,
      s"missing=${(exact -- got).take(3)} extra=${(got -- exact).take(3)}")
  }

  test("ngramJaccardPairs capped semantics match an independent oracle at a LOW cap") {
    // the dedup_ngram_jaccard DuckDB twin now models the stop-shingle
    // cap (sizes over all shingles; intersections over df<=cap only).
    // Prove the modeled semantics are the operator's semantics by
    // forcing the cap to bind (cap=3 on 500 docs) and comparing to a
    // from-scratch Scala implementation of the same contract.
    val cap = 3L
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    val shingles: Map[Long, Set[String]] = texts.map { case (d, t) =>
      val ws = t.trim.split("\\s+")
      val sh = if (ws.length <= 3) Set(ws.mkString(" "))
        else ws.sliding(3).map(_.mkString(" ")).toSet
      d -> sh
    }.toMap
    val df = shingles.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    val rare = df.collect { case (s, c) if c <= cap => s }.toSet
    val ids = shingles.keys.toSeq.sorted
    val expected = (for {
      i <- ids.iterator; j <- ids.iterator if i < j
      inter = (shingles(i) & shingles(j) & rare).size
      if inter > 0
      jac = inter.toDouble / (shingles(i).size + shingles(j).size - inter)
      if jac >= 0.5
    } yield (i, j)).toSet
    val got = Dedup.ngramJaccardPairs(docs, n = 3, minJ = 0.5,
        maxDocsPerShingle = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // and the cap genuinely binds on this corpus (otherwise the test
    // proves nothing)
    assert(df.values.max > cap, "cap did not bind; lower it")
  }

  test("signLshCandidates: complete on planted near-dups, selective on the random background") {
    val base = embs.select($"vec_id",
      expr("transform(embedding, x -> cast(x as double))").as("embedding"))
    val pert = base.filter($"vec_id" % 5 === 0)
      .withColumnRenamed("vec_id", "orig")
      .select(($"orig" + 1000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> x * (1 + 0.01 * (((orig + i) % 3) - 1)))")
          .as("embedding"))
    val all = base.unionByName(pert).cache()
    val n = all.count()
    val planted = Similarity.cosineNearDupPairs(all, 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cand = Similarity.signLshCandidates(all)
      .as[(Long, Long)].collect().toSet
    // recall 1.0: every true near-dup pair must be a candidate (the
    // exact re-score can only shrink the candidate set)
    assert(planted.subsetOf(cand),
      s"banding missed true pairs: ${(planted -- cand).take(5)}")
    // selectivity: the whole point of banding — candidates must be a
    // vanishing fraction of the n² pair space, not ~45% of it (the
    // failure mode of un-amplified BRP-LSH this replaced)
    val allPairs = n * (n - 1) / 2
    assert(cand.size.toLong < allPairs / 20,
      s"candidates ${cand.size} of $allPairs pairs — banding not selective")
    all.unpersist()
  }

  test("IVF: valid lists, full probe == brute force, self-query hits its own cell") {
    val cents = Similarity.ivfTrain(embs, k = 16)
    assert(cents.length == 16 && cents.forall(c =>
      math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
    val assigned = Similarity.ivfAssign(embs, cents).cache()
    assert(assigned.filter($"list_id" < 0 || $"list_id" >= 16).count() == 0)
    // list sizes: no empty quantizer collapse (all mass in one cell)
    val sizes = assigned.groupBy("list_id").count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.size > 4, s"quantizer collapsed: $sizes")

    val q = embs.filter($"vec_id" === 7).head().getSeq[Float](1).map(_.toDouble)
    // probing every list must reproduce exact brute force
    val full = Similarity.ivfTopK(assigned, cents, q, 10, nProbe = 16)
      .as[(Long, Double)].collect().toSeq
    val brute = Similarity.cosineTopK(embs, q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(full == brute)
    // the query IS a corpus vector: its own cell is the nearest
    // centroid, so nProbe=1 must return it at rank 1 with cos 1.0
    val one = Similarity.ivfTopK(assigned, cents, q, 1, nProbe = 1)
      .as[(Long, Double)].collect()
    assert(one.head == ((7L, 1.0)), s"got ${one.toSeq}")
    // recall floor at nProbe=4 on random data (measured 0.5-0.9;
    // conservative bound — ANN quality, not exactness)
    val probe4 = Similarity.ivfTopK(assigned, cents, q, 10, nProbe = 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recall = brute.map(_._1).count(probe4.contains) / 10.0
    assert(recall >= 0.3, s"recall@10 with nProbe=4 was $recall")
    assigned.unpersist()
  }

  test("IVF stored index: partition-pruned probes, same results as in-memory") {
    val cents = Array.tabulate(16)(j =>
      Array.tabulate(64)(i => if (i == j) 1.0 else 0.0))
    val assigned = Similarity.ivfAssign(embs, cents)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.ivfWriteIndex(assigned, dir)
    val q = embs.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble)
    val stored = Similarity.ivfTopKStored(spark, dir, cents, q, 10, nProbe = 4)
    // the probe filter must reach the scan as a PARTITION filter (the
    // 100 TB point of the layout: nProbe directories read, not n rows)
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
        "PartitionFilters: \\[list_id#\\d+ IN ".r.findFirstIn(plan).isDefined,
      s"probe filter did not prune partitions:\n$plan")
    val mem = Similarity.ivfTopK(assigned, cents, q, 10, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(stored.as[(Long, Double)].collect().toSeq == mem,
      "stored-index probe must equal the in-memory path")
  }

  test("ivfSample is bounded by construction at any input size") {
    // the round-3 default (sampleMod=1) collected the ENTIRE table to
    // the driver; the hash-ordered-limit sample cannot: its size is
    // min(n, maxSample) whatever the corpus size, and it is
    // deterministic under repartitioning (total (hash, id) order)
    val s50 = Similarity.ivfSample(embs, 50, 42L, "vec_id", "embedding")
    assert(s50.length == 50)
    val s50b = Similarity.ivfSample(embs.repartition(13), 50, 42L,
      "vec_id", "embedding")
    assert(s50.map(_.toSeq).toSeq == s50b.map(_.toSeq).toSeq,
      "sample must be partition-invariant")
    val all = Similarity.ivfSample(embs, 1000000, 42L, "vec_id", "embedding")
    assert(all.length == embs.count(), "maxSample above n keeps every row")
    // and ivfTrain refuses a bound below k
    intercept[IllegalArgumentException] {
      Similarity.ivfTrain(embs, k = 16, maxSample = 8)
    }
  }

  test("asofJoin: right-side (key, time) ties resolve deterministically to the struct-max payload") {
    import graft.ops.Relational
    val left = Seq((1L, 10L, "l1")).toDF("k", "t", "lid")
    // three right rows tied at (k=1, t=5): the match must be the
    // struct-max payload (rid "r3") regardless of input order/partitioning
    val rightRows = Seq((1L, 5L, "r1", 1.0), (1L, 5L, "r3", 3.0),
      (1L, 5L, "r2", 2.0))
    for (perm <- rightRows.permutations.take(3); parts <- Seq(1, 3)) {
      val right = perm.toDF("k", "t", "rid", "amt").repartition(parts)
      val got = Relational.asofJoin(left, right, Seq("k"), "t", "t")
        .select($"asof_rid", $"asof_amt").as[(String, Double)].head()
      assert(got == (("r3", 3.0)), s"perm=$perm parts=$parts got=$got")
    }
    // reserved temp names are rejected, not silently clobbered
    intercept[IllegalArgumentException] {
      Relational.asofJoin(left.withColumnRenamed("lid", "__t"),
        rightRows.toDF("k", "t", "rid", "amt"), Seq("k"), "t", "t")
    }
  }

  test("asof_join gate fixture carries no (user_id, ts) purchase duplicates") {
    // the asof_join DuckDB twin (ASOF JOIN) resolves right-side ties by
    // ITS own arbitrary choice; the hash gate is tie-free only while
    // the events fixture has no same-user same-ts purchase pairs —
    // guard that here so a testdata change fails loudly, not flakily
    for (sf <- Seq("0.001", "0.01")) {
      val dups = spark.read.parquet(s"${sfDir(sf)}/events.parquet")
        .filter($"event_type" === "purchase")
        .groupBy("user_id", "ts").count().filter($"count" > 1).count()
      assert(dups == 0, s"sf$sf has $dups tied purchase (user_id, ts) pairs")
    }
  }

  test("asofJoin matches brute force; inclusive boundary; no row tearing") {
    import graft.ops.Relational
    // left: (key, t, lid); right: (key, t, rid, amt) with a null amt
    // row to prove the matched payload stays atomic (rid and amt must
    // come from the SAME right row, not the last non-null of each)
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (1L, 5L, "l0"),
      (2L, 7L, "l3"), (3L, 9L, "l4")).toDF("k", "t", "lid")
    val right = Seq((1L, 10L, "r1", Some(1.5)), (1L, 15L, "r2", None),
      (2L, 8L, "r3", Some(2.5))).toDF("k", "t", "rid", "amt")
    val got = Relational.asofJoin(left, right, Seq("k"), "t", "t")
      .select($"lid", $"asof_rid", $"asof_amt").as[(String, Option[String], Option[Double])]
      .collect().toSet
    assert(got == Set(
      ("l0", None, None),              // before any right row
      ("l1", Some("r1"), Some(1.5)),   // t=10 matches r1 at t=10: inclusive
      ("l2", Some("r2"), None),        // r2's amt is null — NOT r1's 1.5
      ("l3", None, None),              // right at t=8 is AFTER left t=7
      ("l4", None, None)))             // key with no right rows at all

    // brute-force parity on real data: clicks vs prior purchases
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value")
    val clicks = ev.filter($"event_type" === "click").limit(300)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id".as("pid"))
    val viaOp = Relational.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts")
      .select($"event_id", $"asof_pid").as[(Long, Option[Long])].collect().toMap
    val pRows = purchases.as[(Long, java.sql.Timestamp, Long)].collect()
      .groupBy(_._1)
    val expected = clicks.select($"event_id", $"user_id", $"ts")
      .as[(Long, Long, java.sql.Timestamp)].collect().map { case (eid, u, t) =>
        val prior = pRows.getOrElse(u, Array.empty)
          .filter(!_._2.after(t))
        eid -> (if (prior.isEmpty) None
                else Some(prior.maxBy(_._2.getTime)._3))
      }.toMap
    assert(viaOp == expected)
  }

  test("splitAssign: deterministic, order-independent, fraction-accurate, shuffle-free") {
    import graft.ops.Sampling
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    // threshold arithmetic: floors of cumulative fractions in 16 bits
    assert(Sampling.hexThreshold(0.8) == "cccc")
    assert(Sampling.hexThreshold(0.9) == "e666")
    assert(Sampling.hexThreshold(1.0) == "ffff") // clamped, last split absorbs
    val ids = spark.range(20000).select($"id".as("doc_id"))
    val assigned = Sampling.splitAssign(ids.toDF(), $"doc_id", splits)
    // exhaustive + deterministic: same id -> same split under a
    // different partitioning and row order
    val a = assigned.as[(Long, String)].collect().toMap
    val b = Sampling.splitAssign(
        ids.repartition(7).sort($"doc_id".desc).toDF(), $"doc_id", splits)
      .as[(Long, String)].collect().toMap
    assert(a == b, "assignment must not depend on partitioning/order")
    // fractions honored within md5-uniformity tolerance (20k draws,
    // sd of train count ~ sqrt(20000*0.8*0.2) ≈ 57; allow 5 sd)
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 16000) < 300, counts.toString)
    assert(math.abs(counts("val") - 2000) < 300, counts.toString)
    assert(math.abs(counts("test") - 2000) < 300, counts.toString)
    // a pure map: no Exchange in the plan, stays in whole-stage codegen
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("curate equals the independent composition of its published stages") {
    import graft.ops.{Curation, Sampling, TextOps}
    val rates = Map("src0" -> 0.3, "src1" -> 1.0)
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val got = Curation.curate(docs, $"doc_id" % 50 === 0, rates, 0.5,
        splits, budget = 100L)
      .as[(Long, String, String, Long, Long, Long, Long)].collect()

    // recompose from the individually-oracled operators
    val bench = docs.filter($"doc_id" % 50 === 0)
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    val dedupIds = Dedup.exactSurvivors(corpus).as[Long].collect().toSet
    val keepIds = TextOps.repetitionScore(corpus).filter($"keep")
      .select($"doc_id").as[Long].collect().toSet
    val flagged = Dedup.contaminated(corpus.filter(
        $"doc_id".isInCollection(dedupIds intersect keepIds)),
        bench, n = 3, minOverlap = 5L)
      .select($"doc_id").as[Long].collect().toSet
    val sampledIds = Sampling.stratifiedSample(corpus, $"doc_id",
        $"source", rates, 0.5)
      .select($"doc_id").as[Long].collect().toSet
    val expectedIds = (dedupIds intersect keepIds diff flagged)
      .intersect(sampledIds)
    assert(got.map(_._1).toSet == expectedIds)

    // split column matches splitAssign; offsets are per-(split,source)
    // exclusive prefix sums in doc_id order
    val splitOf = Sampling.splitAssign(corpus, $"doc_id", splits)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    got.foreach { case (id, _, sp0, _, _, _, _) =>
      assert(sp0 == splitOf(id)) }
    got.groupBy(r => (r._3, r._2)).values.foreach { rows =>
      var run = 0L
      rows.sortBy(_._1).foreach { case (_, _, _, n, start, fb, lb) =>
        assert(start == run && fb == start / 100 && lb == (start + n - 1) / 100)
        run += n
      }
    }
  }

  test("Curation.run snapshots stages, resumes from storage, equals curate()") {
    import graft.ops.Curation
    import graft.store.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("curation-run").toString
    val rates = Map("src0" -> 0.3, "src1" -> 1.0)
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"source", $"split".cast("string"), $"n_tokens",
        $"start_tok", $"first_bin", $"last_bin")
      .as[(Long, String, String, Long, Long, Long, Long)].collect().toSet
    val r1 = rowsOf(Curation.run(spark, docs, dir, "r1",
      $"doc_id" % 50 === 0, rates, 0.5, splits, budget = 100L))
    assert(r1.nonEmpty)
    // resumed run returns identical rows and recomputes NOTHING:
    // every stage manifest still carries the first run's id
    val r2 = rowsOf(Curation.run(spark, docs, dir, "r2",
      $"doc_id" % 50 === 0, rates, 0.5, splits, budget = 100L))
    assert(r2 == r1)
    Seq("cur_clean", "cur_decon", "cur_packed").foreach { st =>
      val m = Snapshots.readManifest(dir, st)
      assert(m.runId == "r1", s"$st recomputed: ${m.runId}")
      assert(m.rows > 0 && m.fileRows.values.sum == m.rows)
      // no stage snapshot materializes document text — at 100 TB that
      // is a corpus-sized parquet write per curation run
      assert(!Snapshots.read(spark, dir, st).columns.contains("text"), st)
    }
    // a killed run that lost its LAST stage resumes mid-chain: only
    // cur_packed recomputes
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete() }
    rmrf(new java.io.File(Snapshots.stageDir(dir, "cur_packed")))
    val r3 = rowsOf(Curation.run(spark, docs, dir, "r3",
      $"doc_id" % 50 === 0, rates, 0.5, splits, budget = 100L))
    assert(r3 == r1)
    assert(Snapshots.readManifest(dir, "cur_clean").runId == "r1")
    assert(Snapshots.readManifest(dir, "cur_packed").runId == "r3")
    // and the snapshotted run equals the single-plan curate()
    val direct = rowsOf(Curation.curate(docs, $"doc_id" % 50 === 0,
      rates, 0.5, splits, budget = 100L))
    assert(r1 == direct)
    // stale-config reuse is refused: resuming with a different
    // threshold must fail fast, not serve the old snapshot
    val ex = intercept[IllegalArgumentException] {
      Curation.run(spark, docs, dir, "r4", $"doc_id" % 50 === 0,
        rates, 0.5, splits, budget = 100L, maxTopWordFrac = 0.3)
    }
    assert(ex.getMessage.contains("cur_clean"), ex.getMessage)
  }

  test("stratifiedSample matches per-row md5 decisions; shuffle-free; rate 1.0 keeps all") {
    import graft.ops.Sampling
    val rates = Map("src0" -> 0.3, "src1" -> 1.0)
    val got = Sampling.stratifiedSample(docs, $"doc_id", $"source",
        rates, defaultRate = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    // brute force: same salt, same 4-hex bucket, same thresholds
    def bucket(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sample:$id".getBytes("UTF-8"))
      d.take(2).map(b => f"${b & 0xff}%02x").mkString
    }
    def th(r: Double): String = f"${math.min(65535L, (r * 65536.0).toLong)}%04x"
    val expected = docs.select($"doc_id", $"source").as[(Long, String)]
      .collect().filter { case (id, src) =>
        val t = th(rates.getOrElse(src, 0.5))
        bucket(id) < t || (t == "ffff" && bucket(id) == "ffff")
      }.map(_._1).toSet
    assert(got == expected)
    // rate-1.0 stratum loses nothing
    val src1All = docs.filter($"source" === "src1").select($"doc_id")
      .as[Long].collect().toSet
    assert(src1All.subsetOf(got))
    // order/partitioning-independent and shuffle-free
    val reGot = Sampling.stratifiedSample(docs.repartition(7), $"doc_id",
        $"source", rates, defaultRate = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(reGot == got)
    val plan = Sampling.stratifiedSample(docs, $"doc_id", $"source", rates)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("packSequences: exclusive prefix offsets per group, bins cover the token stream") {
    import graft.ops.Sampling
    val toks = docs.select($"doc_id", $"source",
      size(split(trim($"text"), "\\s+")).cast("long").as("n_tokens"))
    val got = Sampling.packSequences(toks, $"source", $"doc_id",
        $"n_tokens", budget = 100L)
      .select($"doc_id", $"source", $"n_tokens", $"start_tok",
        $"first_bin", $"last_bin")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    val byGroup = got.groupBy(_._2)
    byGroup.values.foreach { rows =>
      val sorted = rows.sortBy(_._1)
      // offsets are the exclusive running sum in doc_id order
      var run = 0L
      sorted.foreach { case (_, _, n, start, fb, lb) =>
        assert(start == run)
        assert(fb == start / 100 && lb == (start + n - 1) / 100)
        run += n
      }
      // bins tile the group's stream: last doc ends at the total
      assert(sorted.last._4 + sorted.last._3 == run)
    }
    // docs straddling a cut exist at this budget (the concat contract)
    assert(got.exists(r => r._5 != r._6))
  }

  test("packSequences: ONE group spreads over many tasks; no per-group window; zero-token clamp") {
    import graft.ops.Sampling
    // AQE would coalesce this tiny shuffle to one partition by size —
    // disable coalescing so the parallelism assertion sees the
    // partitioning SHAPE (at real scale size-based coalescing is
    // exactly right)
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val df = spark.range(0, 10000).select($"id", lit("g").as("grp"),
        ($"id" % 7 + 1).as("n_tokens"))
      val out = Sampling.packSequences(df, $"grp", $"id", $"n_tokens", 100L)
      // parallelism = range-partition count, not #groups: the single
      // group's rows ride every partition (the old
      // Window.partitionBy(grp) plan put them all through ONE task)
      assert(out.rdd.getNumPartitions > 1)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), plan.take(2000))
      // closed form for tokens = id%7 + 1 in id order:
      // start(id) = 28*(id div 7) + ((id%7)(id%7+1)) div 2
      val bad = out.filter($"start_tok" =!=
        expr("28 * (id div 7) + ((id % 7) * (id % 7 + 1)) div 2")).count()
      assert(bad == 0L)
    }
    // zero-token rows occupy no positions; last_bin clamps to first_bin
    val z = Sampling.packSequences(
        Seq((1L, "g", 5L), (2L, "g", 0L), (3L, "g", 7L)).toDF("id", "grp", "n"),
        $"grp", $"id", $"n", 4L)
      .select($"id", $"start_tok", $"first_bin", $"last_bin")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(z == Seq((1L, 0L, 0L, 1L), (2L, 5L, 1L, 1L), (3L, 5L, 1L, 2L)))
    // floating/map group keys are REJECTED up front: the driver offset
    // map uses JVM equality while the range order uses SQL ordering,
    // and -0.0 vs 0.0 (equal in SQL, distinct JVM keys) would silently
    // skew offsets. Error must name the offending type.
    val exF = intercept[IllegalArgumentException] {
      Sampling.packSequences(
        Seq((1L, 0.0, 5L), (2L, -0.0, 3L)).toDF("id", "grp", "n"),
        $"grp", $"id", $"n", 4L).count()
    }
    assert(exF.getMessage.contains("group column") &&
      exF.getMessage.contains("double"), exF.getMessage)
    val exM = intercept[IllegalArgumentException] {
      Sampling.packSequences(
        Seq((1L, Map("a" -> 1), 5L)).toDF("id", "grp", "n"),
        $"grp", $"id", $"n", 4L).count()
    }
    assert(exM.getMessage.contains("group column"), exM.getMessage)
  }

  test("repetitionScore matches brute force; shuffle-free codegen plan") {
    import graft.ops.TextOps
    val got = TextOps.repetitionScore(docs)
      .as[(Long, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val expected = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (id, t) =>
        val ws = t.trim.split("\\s+").toSeq
        val topF = ws.groupBy(identity).values.map(_.size).max.toDouble / ws.size
        val grams = ws.sliding(2).map(_.mkString(" ")).toSeq
        val dup2 = if (ws.size >= 2) 1.0 - grams.distinct.size.toDouble / grams.size else 0.0
        def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        id -> ((ws.size.toLong, r6(topF), r6(dup2), topF <= 0.2 && dup2 <= 0.9))
      }.toMap
    assert(got == expected)
    // per-row metric: must never shuffle
    val plan = TextOps.repetitionScore(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    // pushdown-proofing: filtering on keep (the operator's purpose)
    // must keep split(text) let-bound — predicate pushdown inlining a
    // shared __ws alias once per lambda reference is the O(words²)
    // regression measured at 10× (10.3 s naive vs 2.1 s at sf0.1,
    // SURVEY.md). With the let-binding
    // shape, the optimized filter+project plan carries a bounded
    // handful of split calls, not one per element access.
    val filteredPlan = TextOps.repetitionScore(docs).filter(col("keep"))
      .queryExecution.optimizedPlan.toString
    val nSplit = "split\\(".r.findAllIn(filteredPlan).size
    assert(nSplit <= 6, s"split inlined $nSplit times:\n${filteredPlan.take(3000)}")
  }

  test("piiScrub redacts emails/phones/IPs with stage-ordered counts") {
    import graft.ops.TextOps
    val rows = Seq(
      (1L, "mail me at bob.smith+x@corp.example.org today"),
      (2L, "call 555-123-4567 or 555-999-0000"),
      (3L, "host at 192.168.0.1 port 80"),
      // numeric domain is NOT an email (needs a letter TLD), so the
      // IP stage sees and redacts both addresses
      (4L, "admin@10.2.3.4 and bare 10.2.3.4"),
      (5L, "no pii here")).toDF("doc_id", "text")
    val got = TextOps.piiScrub(rows)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, "mail me at <EMAIL> today", 1L)))
    assert(got(1) == ((2L, "call <PHONE> or <PHONE>", 2L)))
    assert(got(2) == ((3L, "host at <IP> port 80", 1L)))
    assert(got(3) == ((4L, "admin@<IP> and bare <IP>", 2L)))
    assert(got(4) == ((5L, "no pii here", 0L)))
    val plan = TextOps.piiScrub(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("dupChunkFrac matches brute force and shuffles hashes, not text") {
    val got = Dedup.dupChunkFrac(docs, k = 5)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val chunksByDoc = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (id, t) =>
        id -> t.trim.split("\\s+").grouped(5).filter(_.length == 5)
          .map(_.mkString(" ")).toSeq
      }.toMap
    val dfCount = chunksByDoc.toSeq
      .flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.size }
    val expected = chunksByDoc.collect { case (id, cs) if cs.nonEmpty =>
      val nDup = cs.count(c => dfCount(c) > 1)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      id -> ((cs.size.toLong, nDup.toLong, r6(nDup.toDouble / cs.size)))
    }
    assert(got == expected)
    assert(got.exists(_._2._2 > 0), "fixture should contain cross-doc duplicate chunks")
    // the exploded chunk strings are hashed before the first exchange:
    // no shuffle in the plan may partition on the 'chunk' string column
    // (AQE hides ShuffleExchangeExec from collect(), so assert on the
    // rendered plan's Exchange lines)
    val planStr = Dedup.dupChunkFrac(docs, k = 5)
      .queryExecution.executedPlan.toString
    val exchanges = planStr.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, planStr.take(2000))
    assert(exchanges.forall(!_.contains("chunk")), exchanges.mkString("\n"))
  }

  test("contaminated matches brute-force overlap; bench side broadcasts") {
    val bench = docs.filter($"doc_id" % 50 === 0)
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    val got = Dedup.contaminated(corpus, bench, n = 3)
      .as[(Long, Long)].collect().toMap
    // brute force over collected text
    def grams(t: String): Set[String] = {
      val ws = t.trim.split("\\s+")
      if (ws.length <= 3) Set(ws.mkString(" "))
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val benchGrams = bench.select($"text").as[String].collect()
      .flatMap(grams).toSet
    val expected = corpus.select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (id, t) => id -> grams(t).count(benchGrams) }
      .filter(_._2 >= 1).toMap
    assert(got == expected.map { case (k, v) => k -> v.toLong })
    // the corpus side must NEVER shuffle on text/shingles: the bench
    // gram set rides a broadcast hash join
    val plan = Dedup.contaminated(corpus, bench, n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("funnel (one-pass, r8) counts equal an independently staged evaluation") {
    // the round-8 funnel computes all four stage counts in ONE pass
    // with survival flags; pin it against a fully STAGED evaluation
    // assembled from the independent public operators (exact-dedup
    // survivors ∩ repetition keep → minus contaminated → hash sample)
    import graft.ops.{Curation, Sampling, TextOps}
    val benchFilter = col("doc_id") % 50 === 0
    val rates = Map("src0" -> 0.3, "src1" -> 1.0)
    val corpus = docs.filter(!benchFilter)
    val benchD = docs.filter(benchFilter)

    val got = Curation.funnel(docs, benchFilter, rates, defaultRate = 0.5)
      .as[(String, Long)].collect().toMap

    val n1 = corpus.count()
    // stage 2: exact-dedup survivor (min id per md5(text)) AND the
    // Gopher repetition keep — same rules cleanStage applies
    val survivors = Dedup.exactSurvivors(corpus).as[Long].collect().toSet
    val keep = TextOps.repetitionScore(corpus).filter(col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val cleanIds = survivors intersect keep
    val n2 = cleanIds.size.toLong
    // stage 3: contamination flagged among the clean survivors
    val cleanDocs = corpus.filter(col("doc_id")
      .isin(cleanIds.toSeq.map(java.lang.Long.valueOf): _*))
    val flagged = Dedup.contaminated(cleanDocs, benchD, n = 3,
      minOverlap = 5L).select("doc_id").as[Long].collect().toSet
    val deconIds = cleanIds -- flagged
    val n3 = deconIds.size.toLong
    // stage 4: the deterministic hash sampler over the survivors
    val n4 = Sampling.stratifiedSample(
      cleanDocs.filter(col("doc_id")
        .isin(deconIds.toSeq.map(java.lang.Long.valueOf): _*)),
      col("doc_id"), col("source"), rates, defaultRate = 0.5).count()

    assert(got == Map("1_corpus" -> n1, "2_clean" -> n2,
      "3_decontaminated" -> n3, "4_sampled" -> n4),
      s"funnel=$got staged=${Map("1_corpus" -> n1, "2_clean" -> n2,
        "3_decontaminated" -> n3, "4_sampled" -> n4)}")
    assert(n1 > n2 && n2 >= n3 && n3 >= n4 && n4 > 0,
      "degenerate funnel — the staged oracle saw no filtering")
  }
}
