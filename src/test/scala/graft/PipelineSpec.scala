package graft

import graft.fixtures.FilesGen
import graft.store.Snapshots
import java.nio.file.{Files, Path}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-pipe-$tag").toString

  private def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  private val n = 400
  private lazy val files = FilesGen.dataset(spark, n)

  test("snapshot time travel: every publish stays queryable until expired") {
    val dir = tmpDir("tt")
    def publish(xs: Seq[Long]): Unit =
      Snapshots.stage(spark, dir, "demo", "tt", resume = false) {
        xs.toDF("x")
      }
    publish(Seq(1L, 2L, 3L))
    publish(Seq(10L, 20L))
    assert(Snapshots.versions(dir, "demo") == Seq(1, 2))
    // current read = latest snapshot; v1 still queryable (time travel)
    assert(Snapshots.read(spark, dir, "demo")
      .as[Long].collect().sorted.toSeq == Seq(10L, 20L))
    assert(Snapshots.readVersion(spark, dir, "demo", 1)
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(Snapshots.readManifest(dir, "demo").version == 2)
    assert(Snapshots.readManifestVersion(dir, "demo", 1).rows == 3)
    // the current snapshot refuses to expire; old ones go away fully
    intercept[IllegalArgumentException](Snapshots.expire(dir, "demo", 2))
    Snapshots.expire(dir, "demo", 1)
    assert(Snapshots.versions(dir, "demo") == Seq(2))
    intercept[Exception](Snapshots.readVersion(spark, dir, "demo", 1))
    deleteRec(Path.of(dir))
  }

  test("a publish crashed between versioned manifest and live pointer is invisible and replaced") {
    val dir = tmpDir("crashwin")
    def publish(xs: Seq[Long]): Unit =
      Snapshots.stage(spark, dir, "demo", "cw", resume = false) {
        xs.toDF("x")
      }

    // crash window on the FIRST publish: versioned manifest written,
    // live pointer never moved (the retried run must recompute as v1,
    // not v2 — otherwise versions() lists a snapshot isComplete()
    // denies and incremental consumers double-count the base corpus)
    publish(Seq(1L, 2L, 3L))
    Files.delete(Path.of(Snapshots.stageDir(dir, "demo"), "_MANIFEST.json"))
    assert(!Snapshots.isComplete(dir, "demo"))
    assert(Snapshots.versions(dir, "demo") == Nil)
    intercept[Exception](Snapshots.readManifestVersion(dir, "demo", 1))
    // retry (resume=true takes the compute path — no live manifest)
    Snapshots.stage(spark, dir, "demo", "cw-retry") { Seq(7L, 8L).toDF("x") }
    assert(Snapshots.versions(dir, "demo") == Seq(1))
    assert(Snapshots.read(spark, dir, "demo")
      .as[Long].collect().sorted.toSeq == Seq(7L, 8L))

    // crash window on a LATER publish: v2 manifest lands, live stays
    // at v1 — v2 is an orphan, invisible everywhere, and the next
    // compute replaces it under the same version number
    val liveBak = Files.readString(
      Path.of(Snapshots.stageDir(dir, "demo"), "_MANIFEST.json"))
    publish(Seq(100L))
    Files.writeString(
      Path.of(Snapshots.stageDir(dir, "demo"), "_MANIFEST.json"), liveBak)
    assert(Snapshots.versions(dir, "demo") == Seq(1))
    intercept[Exception](Snapshots.readVersion(spark, dir, "demo", 2))
    publish(Seq(200L, 201L))
    assert(Snapshots.versions(dir, "demo") == Seq(1, 2))
    assert(Snapshots.read(spark, dir, "demo")
      .as[Long].collect().sorted.toSeq == Seq(200L, 201L))
    assert(Snapshots.readVersion(spark, dir, "demo", 1)
      .as[Long].collect().sorted.toSeq == Seq(7L, 8L))
    deleteRec(Path.of(dir))
  }

  test("stageAppend: append chaining, carried files, time travel, expire guard") {
    val dir = tmpDir("append")
    def readSet = Snapshots.read(spark, dir, "t")
      .select("x", "b").as[(Long, Int)].collect().toSet
    def appendRoots(m: Snapshots.Manifest): Set[String] =
      m.baseFiles.get.keys.filter(_.contains("/append/"))
        .map(_.split("/part").head).toSet
    Snapshots.stage(spark, dir, "t", "p1", resume = false,
      partitionBy = Seq("b")) {
      Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2)).toDF("x", "b")
    }
    val base = Snapshots.readManifest(dir, "t").fileRows
      .map { case (k, r) => s"snap=1/$k" -> r }
    // v2 appends two rows to its unpartitioned append set; every base
    // file is carried by reference, none copied
    Snapshots.stageAppend(spark, dir, "t", "p2", Seq("b")) {
      Seq((10L, 0), (99L, 2)).toDF("x", "b")
    }
    val v1Set = Set((1L, 0), (2L, 0), (3L, 1), (4L, 2))
    assert(readSet == v1Set ++ Set((10L, 0), (99L, 2)))
    val m2 = Snapshots.readManifest(dir, "t")
    assert(m2.rows == 6 && m2.version == 2)
    assert(m2.baseFiles.get == base)
    assert(m2.fileRows.keys.forall(_.startsWith("append/d/")))
    // v3: a one-row delta is smaller than v2's two-row set, so the
    // cascade CARRIES v2's set by reference
    Snapshots.stageAppend(spark, dir, "t", "p3", Seq("b")) {
      Seq((50L, 1)).toDF("x", "b")
    }
    val m3 = Snapshots.readManifest(dir, "t")
    assert(appendRoots(m3) == Set("snap=2/append/d"))
    assert(m3.rows == 7 && readSet == v1Set ++ Set((10L, 0), (99L, 2), (50L, 1)))
    // v4: a two-row delta absorbs both prior sets (1 ≤ 2, then
    // 2 ≤ 3) into one merged set; only the base stays carried
    Snapshots.stageAppend(spark, dir, "t", "p4", Seq("b")) {
      Seq((60L, 0), (61L, 2)).toDF("x", "b")
    }
    val m4 = Snapshots.readManifest(dir, "t")
    assert(m4.baseFiles.get == base)
    assert(m4.fileRows.keys.forall(_.startsWith("append/m/")))
    assert(m4.metrics("absorbedSets") == "2" && m4.metrics("appendSets") == "1")
    val v4Set = v1Set ++ Set((10L, 0), (99L, 2), (50L, 1), (60L, 0), (61L, 2))
    assert(m4.rows == 9 && readSet == v4Set)
    assert(Snapshots.appendStats(m4) == (5L, 1))
    // an empty append changes nothing but the version
    Snapshots.stageAppend(spark, dir, "t", "p5", Seq("b")) {
      spark.emptyDataset[(Long, Int)].toDF("x", "b")
    }
    assert(Snapshots.readManifest(dir, "t").rows == 9 && readSet == v4Set)
    // time travel: every published version reads as it was
    assert(Snapshots.readVersion(spark, dir, "t", 1).count() == 4)
    assert(Snapshots.readVersion(spark, dir, "t", 2).count() == 6)
    assert(Snapshots.readVersion(spark, dir, "t", 3).count() == 7)
    // expire guard: a version stays pinned while a published append
    // carries its files — v1 by every later version, v2 by v3
    intercept[IllegalArgumentException](Snapshots.expire(dir, "t", 1))
    intercept[IllegalArgumentException](Snapshots.expire(dir, "t", 2))
    Snapshots.expire(dir, "t", 3)
    Snapshots.expire(dir, "t", 2)
    intercept[IllegalArgumentException](Snapshots.expire(dir, "t", 1))
    intercept[IllegalArgumentException](Snapshots.expire(dir, "t", 5))
    assert(readSet == v4Set)
    deleteRec(Path.of(dir))
  }

  test("a copy-on-write manifest (appendExcludes) is refused by read, stageAppend and compactTail") {
    // three manifests of another snapshot format: a real copy-on-write
    // manifest (written before format stamps, with appendExcludes
    // tombstones), one with only its stamp removed, and one stamped
    // with the next format
    val stamp = "\"formatVersion\"\\s*:\\s*\\d+"
    def unstamped(json: String): String = json.replaceFirst(stamp + ",", "")
    val inputs = Seq[(String, String => String, String)](
      ("cow", j => unstamped(j).replaceFirst("\\{",
        "{\"appendExcludes\":{\"snap=1/append/d\":[\"cb=0\"]},"), "none"),
      ("unstamped", unstamped, "none"),
      ("next", _.replaceFirst(stamp,
        s"\"formatVersion\" : ${Snapshots.FormatVersion + 1}"),
        (Snapshots.FormatVersion + 1).toString))
    inputs.foreach { case (name, tamper, found) =>
      val dir = tmpDir(s"refuse-$name")
      (Pipeline.Stages ++ Seq("ep_census", "ep_shingles", "ep_keys"))
        .foreach { st =>
          Snapshots.stage(spark, dir, st, "cr", resume = false,
            partitionBy = Seq("cb")) {
            Seq((1L, 0), (2L, 1)).toDF("canonicalId", "cb")
          }
        }
      def tree(): Map[String, Seq[Byte]] = Files.walk(Path.of(dir))
        .iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
      tree().keys.filter(_.contains("_MANIFEST")).foreach { f =>
        val p = Path.of(f)
        Files.writeString(p, tamper(Files.readString(p)))
      }
      val before = tree()
      def refused(body: => Any): Unit = {
        val ex = intercept[IllegalArgumentException](body)
        assert(ex.getMessage.contains("_MANIFEST") &&
          ex.getMessage.contains(s"snapshot format $found") &&
          ex.getMessage.contains(
            s"needs format ${Snapshots.FormatVersion}") &&
          ex.getMessage.contains("Rebuild into a fresh runDir"),
          s"$name: ${ex.getMessage}")
      }
      refused(Snapshots.read(spark, dir, "assign"))
      refused(Snapshots.readVersion(spark, dir, "assign", 1))
      refused(Snapshots.stageAppend(spark, dir, "assign", "cr2", Seq("cb")) {
        Seq((3L, 0)).toDF("canonicalId", "cb")
      })
      refused(Pipeline.compactTail(spark, dir, "cr3", 0.0))
      refused(Pipeline.runIncrementalPinned(spark, files, dir, "cr4"))
      // the refused calls published nothing: every file is as it was
      assert(tree() == before, name)
      deleteRec(Path.of(dir))
    }
  }

  // resolving readers: identical to raw Snapshots.read while no dirty
  // canon log exists (every pre-deferral test), log-resolved under
  // deferred merges
  private def edgeSet(runDir: String): Set[(String, String, Long)] =
    Pipeline.readEdges(spark, runDir)
      .select("subj", "pred", "canonicalId")
      .as[(String, String, Long)].collect().toSet

  private def nodeSet(runDir: String): Set[(Long, String, String, Long)] =
    Pipeline.readNodes(spark, runDir)
      .select("canonicalId", "canonical", "kind", "memberCount")
      .as[(Long, String, String, Long)].collect().toSet

  // read schemas of bucketed nodes/edges: cb is an int in last position
  private val bucketedNodesSchema = StructType(Seq(
    StructField("canonicalId", LongType),
    StructField("canonical", StringType),
    StructField("canonicalNorm", StringType),
    StructField("kind", StringType),
    StructField("memberCount", LongType),
    StructField("cb", IntegerType)))
  private val bucketedEdgesSchema = StructType(Seq(
    StructField("subj", StringType),
    StructField("pred", StringType),
    StructField("canonicalId", LongType),
    StructField("conf", DoubleType),
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("cb", IntegerType)))

  test("end-to-end pipeline: counts coherent, manifests complete") {
    val dir = tmpDir("fresh")
    val res = Pipeline.run(spark, files, dir, "run-1")
    assert(res.triples > 0 && res.entities > 0 && res.linkEdges > 0)
    assert(res.nodes > 0 && res.edges == res.triples,
      "every triple must materialize as exactly one canonical edge")
    assert(res.nodes <= res.entities, "canonicalization must not add nodes")
    Pipeline.Stages.foreach { s =>
      assert(Snapshots.isComplete(dir, s), s"stage $s incomplete")
      val m = Snapshots.readManifest(dir, s)
      assert(m.rows >= 0 && m.fileRows.values.sum == m.rows)
    }
    // lineage: manifest row counts match the data
    assert(Snapshots.readManifest(dir, "edges").rows == res.edges)

    // a recompute (resume = false) on the same dir starts from an empty
    // lineage: an equal Result over one extract version, and a later
    // incremental ingest equals the from-scratch run
    val again = Pipeline.run(spark, files, dir, "run-2",
      Pipeline.Config(resume = false))
    assert(again.copy(runId = "x") == res.copy(runId = "x"))
    assert(Snapshots.versions(dir, "extract") == Seq(1))
    val more = FilesGen.local(n + 10)
    val rInc = Pipeline.runIncremental(spark, more.drop(n).toDS(), dir,
      "run-3")
    val full = tmpDir("fresh-full")
    val rFull = Pipeline.run(spark, more.toDS(), full, "run-full")
    assert(rInc.copy(runId = "x") == rFull.copy(runId = "x"))
    assert(nodeSet(dir) == nodeSet(full))
    assert(edgeSet(dir) == edgeSet(full))
  }

  test("resume after kill between stages reproduces the fresh run") {
    val fresh = tmpDir("a")
    val r1 = Pipeline.run(spark, files, fresh, "run-a")

    // simulate a crash AFTER link_edges published but BEFORE assign's
    // manifest: data present, manifest missing (the kill window of
    // FIXTURES.md §5), downstream stages absent entirely
    val crashed = tmpDir("b")
    Pipeline.run(spark, files, crashed, "run-b")
    Files.delete(Path.of(Snapshots.stageDir(crashed, "assign"), "_MANIFEST.json"))
    deleteRec(Path.of(Snapshots.stageDir(crashed, "nodes")))
    deleteRec(Path.of(Snapshots.stageDir(crashed, "edges")))

    val r2 = Pipeline.run(spark, files, crashed, "run-b-resumed")
    assert(r2.triples == r1.triples && r2.entities == r1.entities)
    assert(edgeSet(crashed) == edgeSet(fresh))
    assert(nodeSet(crashed) == nodeSet(fresh))
  }

  test("incremental ingest equals the from-scratch run over the full corpus") {
    // full(A ∪ B) in one dir; run(A) + runIncremental(B) in another
    val all = FilesGen.local(n)
    val (a, b) = all.splitAt(n * 3 / 4)
    val full = tmpDir("inc-full")
    val rFull = Pipeline.run(spark, all.toDS(), full, "run-full")

    val inc = tmpDir("inc")
    val rBase = Pipeline.run(spark, a.toDS(), inc, "run-base")
    // an empty ingest publishes an empty extract version (no file) and
    // changes no count
    val rEmpty = Pipeline.runIncremental(spark, spark.emptyDataset[SourceFile],
      inc, "run-empty")
    assert(rEmpty.copy(runId = "x") == rBase.copy(runId = "x"))
    val rInc = Pipeline.runIncremental(spark, b.toDS(), inc, "run-delta")

    // identical graph: nodes, edges, and every count
    assert(nodeSet(inc) == nodeSet(full))
    assert(edgeSet(inc) == edgeSet(full))
    assert(rInc.copy(runId = "x") == rFull.copy(runId = "x"))

    // the content scan was honestly incremental: extract has three
    // versions, the empty ingest's and then one holding ONLY the
    // delta's triples
    assert(Snapshots.versions(inc, "extract") == Seq(1, 2, 3))
    val v1 = Snapshots.readManifestVersion(inc, "extract", 1).rows
    assert(Snapshots.readManifestVersion(inc, "extract", 2).rows == 0L)
    val v3 = Snapshots.readManifestVersion(inc, "extract", 3).rows
    assert(v1 + v3 == rFull.triples + rFull.quarantined)
    assert(v3 < v1, s"delta version should be the smaller ingest: $v1/$v3")
    // prior graph state stays time-travelable: the v1 nodes snapshot
    // is the base run's graph, not the merged one
    val nodesV1 = Snapshots.readVersion(spark, inc, "nodes", 1).count()
    val nodesV3 = Snapshots.readVersion(spark, inc, "nodes", 3).count()
    assert(nodesV3 == rFull.nodes && nodesV1 < nodesV3)

    // a first-ingest call on an empty dir is refused
    val ex = intercept[IllegalArgumentException] {
      Pipeline.runIncremental(spark, b.toDS(), tmpDir("inc-empty"), "x")
    }
    assert(ex.getMessage.contains("first ingest"), ex.getMessage)

    // crash-retry idempotence: simulate a crash AFTER the delta
    // extract published but BEFORE edges completed, then retry the
    // SAME ingest — the delta extract must NOT be appended twice
    // (union would double-count its triples), and the repaired graph
    // still equals the from-scratch run
    Files.delete(Path.of(Snapshots.stageDir(inc, "edges"), "_MANIFEST.json"))
    val rRetry = Pipeline.runIncremental(spark, b.toDS(), inc, "run-delta")
    assert(Snapshots.versions(inc, "extract") == Seq(1, 2, 3),
      "retry must not append a duplicate delta extract version")
    assert(rRetry.copy(runId = "x") == rFull.copy(runId = "x"))
    assert(edgeSet(inc) == edgeSet(full))

    // run() refuses a dir with incremental extract versions — its
    // resume path reads only the latest (delta-only) snapshot
    val ex2 = intercept[IllegalArgumentException] {
      Pipeline.run(spark, all.toDS(), inc, "run-wrong")
    }
    assert(ex2.getMessage.contains("runIncremental"), ex2.getMessage)
  }

  // Equality scope: holds for runs where no band bucket exceeds
  // maxBandBucket — oversized buckets are star-restructured by the
  // from-scratch comparator but scored delta-vs-all by the delta path
  // (a superset of true merges; Linking.deltaFuzzyEdges). This corpus
  // stays far below the 10k default cap, so the contract applies.
  test("epoch-pinned ingest equals from-scratch under the pinned census; delta appends only") {
    val all = FilesGen.local(n)
    val (a, b) = all.splitAt(n * 3 / 4)
    // force the banded fuzzy path everywhere: the epoch's stored-key
    // mechanism IS the banded scheme, so the base run and the
    // comparator must take it too (the exact small-set path surfaces a
    // candidate superset — equality holds only path-for-path)
    def cfg(hot: Option[Seq[(String, Long)]]) = Pipeline.Config(
      link = graft.link.Linking.Config(exactSmallThreshold = 0L,
        pinnedHot = hot))

    val inc = tmpDir("ep-inc")
    val rBase = Pipeline.run(spark, a.toDS(), inc, "ep-base", cfg(None))
    Pipeline.pinEpoch(spark, inc, "ep-pin", cfg(None))
    val hot = Snapshots.read(spark, inc, "ep_census")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // one layout for every Config: a default-Config (no cb) run
    // publishes unpartitioned nodes/edges whose read schema is the
    // bucketed one minus cb
    val plainNodesSchema =
      StructType(bucketedNodesSchema.filterNot(_.name == "cb"))
    val plainEdgesSchema =
      StructType(bucketedEdgesSchema.filterNot(_.name == "cb"))
    def assertPlainLayout(when: String): Unit = {
      Seq("nodes", "edges").foreach(st => assert(Snapshots.partitionColsOf(
        Snapshots.readManifest(inc, st)).isEmpty, s"$st $when"))
      assert(Pipeline.readNodes(spark, inc).schema == plainNodesSchema, when)
      assert(Pipeline.readEdges(spark, inc).schema == plainEdgesSchema, when)
    }
    assertPlainLayout("after the base run")
    // an empty pinned ingest appends an empty slice to every delta
    // stage (its extract writes no file) and changes no count
    val rEmpty = Pipeline.runIncrementalPinned(spark,
      spark.emptyDataset[SourceFile], inc, "ep-empty", cfg(None))
    assert(Snapshots.readManifestVersion(inc, "extract", 2).rows == 0L)
    assert(rEmpty.nodes == rBase.nodes && rEmpty.edges == rBase.edges)
    val rPinned = Pipeline.runIncrementalPinned(spark, b.toDS(), inc,
      "ep-delta", cfg(None))
    // the default-Config ingest took the O(delta) merge-on-read tail:
    // defer-marked appends and a dirty canon log as its commit record
    Seq("assign", "nodes", "edges").foreach { st =>
      val m = Snapshots.readManifest(inc, st)
      assert(m.runId == "ep-delta" && m.metrics.get("defer").contains("true"),
        s"$st not deferred")
    }
    assert(Pipeline.canonLogDirty(inc))
    assertPlainLayout("after the deferred ingest (resolving read)")

    // from-scratch comparator: full pipeline on A ∪ B under the SAME
    // frozen census (pinned right after the base run = the base run's
    // own census by the cap convention)
    val full = tmpDir("ep-full")
    val rFull = Pipeline.run(spark, all.toDS(), full, "ep-fullrun",
      cfg(Some(hot)))
    assert(nodeSet(inc) == nodeSet(full))
    assert(edgeSet(inc) == edgeSet(full))
    assert(rPinned.nodes == rFull.nodes && rPinned.edges == rFull.edges)
    assert(rPinned.triples == rFull.triples &&
      rPinned.entities == rFull.entities)

    // the ingests appended DELTA slices (no global relink): entities,
    // shingles, keys, and link_edges all carry the empty ingest's and
    // the delta's versions; the extract stayed delta-only
    Seq("extract", "entities", "ep_shingles", "ep_keys", "link_edges")
      .foreach { st =>
        assert(Snapshots.versions(inc, st) == Seq(1, 2, 3), st)
      }
    assert(Snapshots.readManifestVersion(inc, "link_edges", 3)
      .metrics.get("delta").contains("true"))

    // crash-retry idempotence mid-chain: kill after the delta link
    // published but before edges completed; the retry rolls the tail
    // back to its pre-ingest versions, re-runs the O(delta) tail, and
    // must not append duplicate delta slices anywhere
    Files.delete(Path.of(Snapshots.stageDir(inc, "edges"), "_MANIFEST.json"))
    val rRetry = Pipeline.runIncrementalPinned(spark, b.toDS(), inc,
      "ep-delta", cfg(None))
    Seq("entities", "ep_shingles", "ep_keys", "link_edges").foreach { st =>
      assert(Snapshots.versions(inc, st) == Seq(1, 2, 3), s"$st dup delta")
    }
    assert(rRetry.copy(runId = "x") == rPinned.copy(runId = "x"))
    assert(nodeSet(inc) == nodeSet(full))

    // a global relink BUMPS the epoch: pinned state is dropped and a
    // further pinned ingest is refused until re-pinned
    Pipeline.runIncremental(spark, b.take(10).toDS(), inc, "ep-bump",
      cfg(None))
    val ex = intercept[IllegalArgumentException] {
      Pipeline.runIncrementalPinned(spark, b.toDS(), inc, "ep-x", cfg(None))
    }
    assert(ex.getMessage.contains("pinEpoch"), ex.getMessage)
  }

  test("incremental canonicalize: O(delta) bucket patches equal the global tail across chained ingests") {
    // the O(delta) tail is merge-on-read: append-only snapshots plus
    // the canon log, resolved on read
    // purpose-built corpus with GUARANTEED cross-ingest merges: each
    // norm class "wordN" gets its plain form in the base, an UPPER
    // variant in delta 1 (even classes) and a trailing-dot variant in
    // delta 2 (odd classes) — every variant file must link into an
    // already-stored component. Deltas also RE-MENTION stored forms
    // (b: the base's plain form; c: delta-1's upper variant, whose
    // component merged an ingest earlier), exercising the edges
    // append's old-form canonical resolution through the canon log.
    // New classes appear in each delta too (pure appends).
    def f(name: String, forms: Seq[String]) = SourceFile("r", name, "c0",
      "md", forms.map(w => s"q: $w?").mkString("\n"))
    // 80 classes over 64 buckets: ~20 merged-away roots per delta
    val classes = (0 until 80).map(i => s"word$i")
    val a = classes.zipWithIndex.map { case (w, i) => f(s"a$i.txt", Seq(w)) }
    val b = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 0 =>
        f(s"b$i.txt", Seq(w.toUpperCase) ++
          (if (i % 6 == 0) Seq(classes(i / 2)) else Nil)) // re-mention base
    } ++ Seq(f("bnew1.txt", Seq("brandnew1")), f("bnew2.txt", Seq("brandnew2")))
    val c = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 1 =>
        // i % 5 == 0 files also re-mention delta-1's stored upper
        // variant of class 38 (a component that MERGED an ingest ago)
        f(s"c$i.txt", Seq(w + ".") ++
          (if (i % 5 == 0) Seq(classes(38).toUpperCase) else Nil))
    } ++ Seq(f("cnew.txt", Seq("brandnew3")))
    val all = a ++ b ++ c
    def cfg = Pipeline.Config(canonBuckets = Some(64))

    val inc = tmpDir("icc")
    Pipeline.run(spark, a.toDS(), inc, "icc-base", cfg)
    Pipeline.pinEpoch(spark, inc, "icc-pin", cfg)
    val r1 = Pipeline.runIncrementalPinned(spark, b.toDS(), inc, "icc-d1", cfg)
    val r2 = Pipeline.runIncrementalPinned(spark, c.toDS(), inc, "icc-d2", cfg)
    assert(r1.linkEdges > 20 && r2.linkEdges > r1.linkEdges)

    // the tail really DEFERRED both times (no silent global fallback):
    // live manifests carry the base files by reference and the defer
    // marker, and the dirty canon log is this ingest's commit record
    Seq("assign", "nodes", "edges").foreach { st =>
      val m = Snapshots.readManifest(inc, st)
      assert(m.metrics.get("defer").contains("true"), s"$st not deferred")
      assert(m.runId == "icc-d2" && m.baseFiles.exists(_.nonEmpty), st)
      assert(m.metrics("canonBuckets") == "64", st)
    }
    assert(Pipeline.canonLogDirty(inc))
    assert(Snapshots.readManifest(inc, Pipeline.CanonLogStage).runId ==
      "icc-d2")
    // real merged-away roots in BOTH ingests (half the variant ids
    // hash below their class root) — otherwise this test proves
    // nothing about log resolution
    Seq(2, 3).foreach { v =>
      assert(Snapshots.readManifestVersion(inc, "assign", v)
        .metrics("merges").toLong > 0, s"assign v$v had no merges")
    }

    // graph equality vs a from-scratch run over A ∪ B ∪ C (asks is
    // not a fuzzy pred: no census in play, so the unpinned comparator
    // is exact)
    val full = tmpDir("icc-full")
    val rFull = Pipeline.run(spark, all.toDS(), full, "icc-fullrun", cfg)
    assert(nodeSet(inc) == nodeSet(full))
    assert(edgeSet(inc) == edgeSet(full))
    assert(r2.nodes == rFull.nodes && r2.edges == rFull.edges &&
      r2.entities == rFull.entities && r2.triples == rFull.triples)

    // retry after FULL completion is a pure no-op (no version bump)
    val vBefore = Snapshots.versions(inc, "edges")
    val rRetry = Pipeline.runIncrementalPinned(spark, c.toDS(), inc,
      "icc-d2", cfg)
    assert(Snapshots.versions(inc, "edges") == vBefore)
    assert(rRetry.copy(runId = "x") == r2.copy(runId = "x"))

    // crash-retry HALF-APPLIED: nodes+edges manifests lost after the
    // assign append published → the retry rolls every tail stage back
    // to its pre-ingest version (the pair graph is only derivable
    // pre-ingest), heals through the O(delta) tail, and still equals
    // the from-scratch graph
    val inc2 = tmpDir("icc2")
    Pipeline.run(spark, a.toDS(), inc2, "icc-base", cfg)
    Pipeline.pinEpoch(spark, inc2, "icc-pin", cfg)
    Pipeline.runIncrementalPinned(spark, b.toDS(), inc2, "icc-d1", cfg)
    Files.delete(Path.of(Snapshots.stageDir(inc2, "nodes"), "_MANIFEST.json"))
    Files.delete(Path.of(Snapshots.stageDir(inc2, "edges"), "_MANIFEST.json"))
    val rHeal = Pipeline.runIncrementalPinned(spark, b.toDS(), inc2,
      "icc-d1", cfg)
    val fullAb = tmpDir("icc-fullab")
    Pipeline.run(spark, (a ++ b).toDS(), fullAb, "icc-fab", cfg)
    // healed O(delta): every icc-d1 tail version is a defer-marked
    // append (no full tail version), and the log is dirty
    Seq("assign", "nodes", "edges").foreach { st =>
      val ms = Snapshots.versions(inc2, st)
        .map(Snapshots.readManifestVersion(inc2, st, _))
        .filter(_.runId == "icc-d1")
      assert(ms.nonEmpty && ms.forall(m => m.baseFiles.exists(_.nonEmpty) &&
        m.metrics.get("defer").contains("true")), st)
      assert(Snapshots.readManifest(inc2, st).runId == "icc-d1", st)
    }
    assert(Pipeline.canonLogDirty(inc2), "the O(delta) retry leaves a dirty log")
    assert(nodeSet(inc2) == nodeSet(fullAb))
    assert(edgeSet(inc2) == edgeSet(fullAb))
    assert(rHeal.nodes == Snapshots.readManifest(fullAb, "nodes").rows)

    // deferMerges=false runs the same O(delta) tail, then folds at
    // once: same graph, full folded tables, a clean log
    val inc3 = tmpDir("icc3")
    Pipeline.run(spark, a.toDS(), inc3, "icc-base", cfg)
    Pipeline.pinEpoch(spark, inc3, "icc-pin", cfg)
    Pipeline.runIncrementalPinned(spark, b.toDS(), inc3, "icc-d1",
      cfg.copy(deferMerges = false))
    assert(Snapshots.versions(inc3, "nodes").exists { v =>
      val m = Snapshots.readManifestVersion(inc3, "nodes", v)
      m.runId == "icc-d1" && m.metrics.get("defer").contains("true")
    }, "the tail appended before the fold")
    val m3 = Snapshots.readManifest(inc3, "nodes")
    assert(!m3.metrics.contains("defer") && m3.baseFiles.forall(_.isEmpty))
    assert(m3.metrics.get("compacted").contains("true"))
    assert(Snapshots.isComplete(inc3, Pipeline.CanonLogStage) &&
      !Pipeline.canonLogDirty(inc3), "the fold leaves a clean log")
    assert(nodeSet(inc3) == nodeSet(fullAb))
    assert(edgeSet(inc3) == edgeSet(fullAb))
  }

  test("compactAppendFrac folds the tail tables after a pinned ingest; chain stays exact") {
    def f(name: String, forms: Seq[String]) = SourceFile("r", name, "c0",
      "md", forms.map(w => s"q: $w?").mkString("\n"))
    val classes = (0 until 40).map(i => s"cword$i")
    val a = classes.zipWithIndex.map { case (w, i) => f(s"a$i.txt", Seq(w)) }
    val b = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 0 => f(s"b$i.txt", Seq(w.toUpperCase))
    } :+ f("bnew.txt", Seq("cbrandnew1"))
    val c = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 1 => f(s"c$i.txt", Seq(w + "."))
    } :+ f("cnew.txt", Seq("cbrandnew2"))
    // frac ~0: fold whenever a tail stage holds ANY append rows
    val cfg = Pipeline.Config(canonBuckets = Some(64),
      compactAppendFrac = Some(1e-9))
    val inc = tmpDir("icfold")
    Pipeline.run(spark, a.toDS(), inc, "if-base", cfg)
    // canonical buckets are a plain last column, not a directory tree:
    // every published tail version (base, deferred append, fold) names
    // no cb= path, assign keeps only its ident partition, and the read
    // schemas are exactly those of the former cb-partitioned layout
    def assertPlainCb(): Unit = {
      val parts = Map("assign" -> Seq("ident"), "nodes" -> Nil,
        "edges" -> Nil)
      parts.foreach { case (st, cols) =>
        Snapshots.versions(inc, st).foreach { v =>
          val m = Snapshots.readManifestVersion(inc, st, v)
          val paths = m.fileRows.keys ++ m.baseFiles.getOrElse(Map.empty).keys
          assert(!paths.exists(_.contains("cb=")), s"$st v$v: $paths")
          assert(Snapshots.partitionColsOf(m) == cols, s"$st v$v")
        }
      }
      assert(Pipeline.readNodes(spark, inc).schema == bucketedNodesSchema)
      assert(Pipeline.readEdges(spark, inc).schema == bucketedEdgesSchema)
    }
    assertPlainCb()
    Pipeline.pinEpoch(spark, inc, "if-pin", cfg)
    Pipeline.runIncrementalPinned(spark, b.toDS(), inc, "if-d1", cfg)
    // the ingest deferred (an append version by if-d1 carries the
    // marker) before the trigger folded it
    assert(Snapshots.versions(inc, "nodes").exists { v =>
      val m = Snapshots.readManifestVersion(inc, "nodes", v)
      m.runId == "if-d1" && m.metrics.get("defer").contains("true")
    })
    assertPlainCb()
    // delta 1 appended new entities → the trigger folded; append mass
    // and set count are zero and the fold is stamped
    Seq("assign", "nodes", "edges").foreach { st =>
      val m = Snapshots.readManifest(inc, st)
      assert(m.metrics.get("compacted").contains("true"), s"$st not folded")
      assert(Snapshots.appendStats(m) == (0L, 0), st)
      assert(m.baseFiles.forall(_.isEmpty), st)
    }
    // a second pinned ingest APPENDS cleanly on top of the folded
    // snapshots, then folds again
    val r2 = Pipeline.runIncrementalPinned(spark, c.toDS(), inc, "if-d2", cfg)
    assert(Snapshots.readManifest(inc, "assign").metrics
      .get("compacted").contains("true"))
    val full = tmpDir("icfold-full")
    val rFull = Pipeline.run(spark, (a ++ b ++ c).toDS(), full, "if-full",
      cfg.copy(compactAppendFrac = None))
    assert(nodeSet(inc) == nodeSet(full))
    assert(edgeSet(inc) == edgeSet(full))
    assert(r2.nodes == rFull.nodes && r2.edges == rFull.edges)
  }

  test("lineage consolidation bounds the per-ingest union width; chain stays exact") {
    def f(name: String, forms: Seq[String]) = SourceFile("r", name, "c0",
      "md", forms.map(w => s"q: $w?").mkString("\n"))
    val classes = (0 until 30).map(i => s"lword$i")
    val a = classes.zipWithIndex.map { case (w, i) => f(s"a$i.txt", Seq(w)) }
    val deltas = (0 until 3).map { d =>
      classes.zipWithIndex.collect {
        case (w, i) if i % 3 == d => f(s"d$d-$i.txt",
          Seq(if (d == 0) w.toUpperCase else w + ("." * d)))
      } :+ f(s"dnew$d.txt", Seq(s"lbrand$d"))
    }
    def chain(maxDeltas: Option[Int]): (String, Pipeline.Result) = {
      val cfg = Pipeline.Config(canonBuckets = Some(64),
        maxLineageDeltas = maxDeltas)
      val dir = tmpDir(s"lin${maxDeltas.isDefined}")
      Pipeline.run(spark, a.toDS(), dir, "lc-base", cfg)
      Pipeline.pinEpoch(spark, dir, "lc-pin", cfg)
      var r: Pipeline.Result = null
      deltas.zipWithIndex.foreach { case (delta, i) =>
        r = Pipeline.runIncrementalPinned(spark, delta.toDS(), dir,
          s"lc-d$i", cfg)
      }
      (dir, r)
    }
    val (inc, r) = chain(Some(1))
    val (incN, rN) = chain(None)

    // the maintained chain's lineage stayed short: consolidation at
    // each ingest start folds completed deltas, so at most
    // [consolidated full, the latest ingest's delta] remain — while
    // the unmaintained chain accumulated base + 3 deltas
    Seq("entities", "link_edges", "ep_keys", "ep_shingles").foreach { st =>
      val vs = Snapshots.versions(inc, st)
      assert(vs.length <= 2, s"$st lineage not consolidated: $vs")
      assert(Snapshots.versions(incN, st).length == 4, st)
      val live = Snapshots.readManifestVersion(inc, st, vs.head)
      if (vs.length == 2)
        assert(live.metrics.get("compacted").contains("true"), st)
    }
    // identical graphs and result counts on both chains
    assert(nodeSet(inc) == nodeSet(incN))
    assert(edgeSet(inc) == edgeSet(incN))
    assert(r.copy(runId = "x") == rN.copy(runId = "x"))

    // retry of the last ingest is still a no-op (idempotence survives
    // consolidation of PRIOR runs; the in-flight guard protects its
    // own slices)
    val vBefore = Snapshots.versions(inc, "edges")
    val rRetry = Pipeline.runIncrementalPinned(spark,
      deltas(2).toDS(), inc, "lc-d2",
      Pipeline.Config(canonBuckets = Some(64),
        maxLineageDeltas = Some(1)))
    assert(Snapshots.versions(inc, "edges") == vBefore)
    assert(rRetry.copy(runId = "x") == r.copy(runId = "x"))

    // a FOREIGN crashed ingest (entities slice published, no tail
    // commit record) must never be folded: its retry's idempotence
    // key and oldUnion exclusion live on that slice
    Snapshots.stage(spark, inc, "entities", "lc-crashed",
      resume = false, metrics = Map("delta" -> "true")) {
      Snapshots.read(spark, inc, "entities").limit(0)
    }
    val entBefore = Snapshots.versions(inc, "entities")
    val folded = Pipeline.compactLineage(spark, inc, "lc-d3", 1)
    assert(!folded.contains("entities"),
      "an uncommitted foreign slice must block entities consolidation")
    assert(Snapshots.versions(inc, "entities") == entBefore,
      "the crashed slice must survive untouched")
  }

  test("compactLineage folds no delta of a merge-on-read ingest whose canon log never published") {
    def f(name: String, forms: Seq[String]) = SourceFile("r", name, "c0",
      "md", forms.map(w => s"q: $w?").mkString("\n"))
    val classes = (0 until 20).map(i => s"kword$i")
    val a = classes.zipWithIndex.map { case (w, i) => f(s"a$i.txt", Seq(w)) }
    val x = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 0 => f(s"x$i.txt", Seq(w.toUpperCase))
    } :+ f("xnew.txt", Seq("kbrandnew"))
    val cfg = Pipeline.Config(canonBuckets = Some(64))
    val dir = tmpDir("commitrec")
    Pipeline.run(spark, a.toDS(), dir, "cr-base", cfg)
    Pipeline.pinEpoch(spark, dir, "cr-pin", cfg)
    Pipeline.runIncrementalPinned(spark, x.toDS(), dir, "cr-x", cfg)
    assert(Snapshots.readManifest(dir, "edges").metrics
      .get("defer").contains("true"))
    // crash window: the three appends published, the canon log (the
    // ingest's commit record) did not
    Files.delete(Path.of(Snapshots.stageDir(dir, Pipeline.CanonLogStage),
      "_MANIFEST.json"))
    assert(!Pipeline.committedRuns(dir).contains("cr-x"))
    val stages = Seq("entities", "link_edges", "ep_shingles", "ep_keys")
    def deltasOfX(st: String): Seq[Int] = Snapshots.versions(dir, st)
      .filter(v => Snapshots.readManifestVersion(dir, st, v).runId == "cr-x")
    val before = stages.map(st => st -> Snapshots.versions(dir, st)).toMap
    assert(stages.forall(st => deltasOfX(st).nonEmpty), before)
    val folded = Pipeline.compactLineage(spark, dir, "y", 1)
    assert(folded.isEmpty, s"folded uncommitted deltas of cr-x: $folded")
    stages.foreach { st =>
      assert(Snapshots.versions(dir, st) == before(st), st)
      assert(deltasOfX(st).nonEmpty, st)
    }
    deleteRec(Path.of(dir))
  }

  test("deferred merges: append-only ingests + canon log equal CoW and from-scratch; fold applies the log") {
    def f(name: String, forms: Seq[String]) = SourceFile("r", name, "c0",
      "md", forms.map(w => s"q: $w?").mkString("\n"))
    val classes = (0 until 60).map(i => s"dword$i")
    val a = classes.zipWithIndex.map { case (w, i) => f(s"a$i.txt", Seq(w)) }
    val b = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 0 => f(s"b$i.txt", Seq(w.toUpperCase))
    } :+ f("bnew.txt", Seq("dbrandnew1"))
    // delta 2 merges across BOTH prior ingests: dot-variants of odd
    // base classes AND re-mentions of delta-1's upper variants (their
    // components merged an ingest ago — exercises log COMPOSITION)
    val c = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 1 => f(s"c$i.txt", Seq(w + ".") ++
        (if (i % 5 == 0) Seq(classes(14).toUpperCase) else Nil))
    } :+ f("cnew.txt", Seq("dbrandnew2"))
    val cfgD = Pipeline.Config(canonBuckets = Some(64),
      deferMerges = true)
    val full = tmpDir("defer-full")
    val rFull = Pipeline.run(spark, (a ++ b ++ c).toDS(), full, "df-full",
      cfgD)

    // the chain on both CC paths of the tail: the local union-find
    // (default threshold) and the distributed star fixpoint (0)
    def chain(cfg: Pipeline.Config): (String, Pipeline.Result,
        Pipeline.Result) = {
      val inc = tmpDir(s"defer-cc${cfg.ccLocalThreshold}")
      Pipeline.run(spark, a.toDS(), inc, "df-base", cfg)
      Pipeline.pinEpoch(spark, inc, "df-pin", cfg)
      val r1 = Pipeline.runIncrementalPinned(spark, b.toDS(), inc, "df-d1",
        cfg)
      val r2 = Pipeline.runIncrementalPinned(spark, c.toDS(), inc, "df-d2",
        cfg)
      val tag = s"ccLocalThreshold=${cfg.ccLocalThreshold}"

      // the ingests really DEFERRED: append-only versions that carry
      // every base file (no full tail version after the base run), a
      // dirty log with real merges
      val baseFiles = Seq("assign", "nodes", "edges").map(st =>
        st -> Snapshots.readManifestVersion(inc, st, 1).fileRows.keys
          .map(k => s"snap=1/$k").toSet).toMap
      Seq("assign", "nodes", "edges").foreach { st =>
        val m = Snapshots.readManifest(inc, st)
        assert(m.metrics.get("defer").contains("true"), s"$st not deferred")
        assert(baseFiles(st).subsetOf(m.baseFiles.get.keySet), st)
        assert(m.fileRows.keys.forall(_.startsWith("append/")), st)
        assert(Snapshots.versions(inc, st).tail.forall(v => Snapshots
          .readManifestVersion(inc, st, v).baseFiles.exists(_.nonEmpty)),
          s"$st: a full tail version ($tag)")
      }
      assert(Pipeline.canonLogDirty(inc))
      val logRows = Snapshots.readManifest(inc, Pipeline.CanonLogStage).rows
      assert(logRows > 10, s"expected real merges in the log, got $logRows")
      assert(r1.nodes == 61 && r2.nodes == 62,
        s"logical-node arithmetic drifted: ${r1.nodes}/${r2.nodes} ($tag)")
      // merges in BOTH ingests, each counted in its tail's manifests
      Seq(2, 3).foreach { v =>
        assert(Snapshots.readManifestVersion(inc, "assign", v)
          .metrics("merges").toLong > 0, s"assign v$v had no merges ($tag)")
      }

      // resolved graph equals the from-scratch run, row for row; stored
      // node ROWS over-count merged components (that is what deferral
      // defers), while Result.nodes carries the exact logical count
      val cols = Seq("canonicalId", "canonical", "kind", "memberCount")
      val ecols = Seq("subj", "pred", "canonicalId", "conf", "repo", "path",
        "commit")
      def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame): Boolean =
        x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
      assert(same(Pipeline.readNodes(spark, inc).selectExpr(cols: _*),
        Pipeline.readNodes(spark, full).selectExpr(cols: _*)), tag)
      assert(same(Pipeline.readEdges(spark, inc).selectExpr(ecols: _*),
        Pipeline.readEdges(spark, full).selectExpr(ecols: _*)), tag)
      assert(r2.nodes == rFull.nodes && r2.edges == rFull.edges, tag)
      assert(r1.nodes > 0 && r1.nodes <= r2.nodes)
      (inc, r1, r2)
    }
    // the distributed path really ran in both ingests' tails
    val (_, x1, x2) = chain(cfgD.copy(ccLocalThreshold = 0L))
    assert(x1.ccIterations > 0 && x2.ccIterations > 0,
      s"distributed CC iterations: ${x1.ccIterations}/${x2.ccIterations}")
    val (inc, _, r2) = chain(cfgD)
    val physicalRows = Snapshots.read(spark, inc, "nodes").count()
    assert(physicalRows > r2.nodes,
      s"deferral should leave constituent rows: $physicalRows vs ${r2.nodes}")

    // FOLD: applies the log physically, clears it, preserves the graph
    val folded = Pipeline.compactTail(spark, inc, "df-maint", 1e-9)
    assert(folded.toSet == Set("assign", "nodes", "edges"))
    assert(!Pipeline.canonLogDirty(inc))
    assert(nodeSet(inc) == nodeSet(full))
    assert(edgeSet(inc) == edgeSet(full))
    assert(Snapshots.read(spark, inc, "nodes").count() == r2.nodes)
    assert(Snapshots.readManifest(inc, "nodes").rows == r2.nodes)

    // a further deferred ingest on the folded base still works
    val d = Seq(f("dnew.txt", Seq(classes(3), "dbrandnew3")))
    val r3 = Pipeline.runIncrementalPinned(spark, d.toDS(), inc, "df-d3",
      cfgD)
    val full2 = tmpDir("defer-full2")
    Pipeline.run(spark, (a ++ b ++ c ++ d).toDS(), full2, "df-full2", cfgD)
    assert(nodeSet(inc) == nodeSet(full2))
    assert(r3.edges == Snapshots.readManifest(full2, "edges").rows)

    // deferMerges=false over a dirty log: the O(delta) tail composes
    // the log, and the fold right after it applies and clears it
    val inc2 = tmpDir("defer-cow")
    Pipeline.run(spark, a.toDS(), inc2, "df-base", cfgD)
    Pipeline.pinEpoch(spark, inc2, "df-pin", cfgD)
    Pipeline.runIncrementalPinned(spark, b.toDS(), inc2, "df-d1", cfgD)
    assert(Pipeline.canonLogDirty(inc2))
    Pipeline.runIncrementalPinned(spark, c.toDS(), inc2, "df-d2",
      cfgD.copy(deferMerges = false))
    assert(!Pipeline.canonLogDirty(inc2), "the fold must clear the log")
    val m2 = Snapshots.readManifest(inc2, "nodes")
    assert(!m2.metrics.contains("defer") &&
      m2.metrics.get("compacted").contains("true"))
    assert(nodeSet(inc2) == nodeSet(full))
    assert(edgeSet(inc2) == edgeSet(full))
  }

  test("a delta linked to a root an earlier ingest merged away resolves it through the canon log") {
    // base: one host per class; delta 1: its upper-case twin (same
    // norm) — where the twin's id is smaller, the base host's root
    // merges away into it (a log key whose assign row is an identity
    // row); delta 2: the www. variant, linked fuzzily to BOTH stored
    // forms, so one pair-graph endpoint is that merged-away root
    def f(name: String, host: String) = SourceFile("r", name, "c0", "md",
      s"see https://$host/x")
    val hosts = (0 until 24).map(i => s"svc$i-gateway.region$i.example.net")
    val a = hosts.zipWithIndex.map { case (h, i) => f(s"a$i.md", h) }
    val b = hosts.zipWithIndex.map { case (h, i) => f(s"b$i.md", h.toUpperCase) }
    val c = hosts.zipWithIndex.map { case (h, i) => f(s"c$i.md", s"www.$h") }
    val cfg = Pipeline.Config(link =
      graft.link.Linking.Config(exactSmallThreshold = 0L))
    val inc = tmpDir("logkey")
    Pipeline.run(spark, a.toDS(), inc, "lk-base", cfg)
    Pipeline.pinEpoch(spark, inc, "lk-pin", cfg)
    Pipeline.runIncrementalPinned(spark, b.toDS(), inc, "lk-d1", cfg)
    val logKeys = Snapshots.read(spark, inc, Pipeline.CanonLogStage)
      .select("oldRoot").as[Long].collect().toSet
    Pipeline.runIncrementalPinned(spark, c.toDS(), inc, "lk-d2", cfg)
    val d2 = Snapshots.versions(inc, "link_edges").filter(v =>
      Snapshots.readManifestVersion(inc, "link_edges", v).runId == "lk-d2")
    val ends = d2.flatMap(v => Snapshots.readVersion(spark, inc,
      "link_edges", v).select("src", "dst").as[(Long, Long)].collect()
      .flatMap { case (s, d) => Seq(s, d) }).toSet
    assert(ends.intersect(logKeys).nonEmpty,
      s"no delta-2 link edge reaches a merged-away root: $logKeys")
    // the log stays single-hop with one row per merged-away root
    val log = Snapshots.read(spark, inc, Pipeline.CanonLogStage)
      .select("oldRoot", "newRoot").as[(Long, Long)].collect().toSeq
    assert(log.map(_._1).distinct.length == log.length, log)
    assert(log.map(_._2).toSet.intersect(log.map(_._1).toSet).isEmpty, log)

    val hot = Snapshots.read(spark, inc, "ep_census")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val full = tmpDir("logkey-full")
    Pipeline.run(spark, (a ++ b ++ c).toDS(), full, "lk-full",
      cfg.copy(link = cfg.link.copy(pinnedHot = Some(hot))))
    assert(nodeSet(inc) == nodeSet(full))
    assert(edgeSet(inc) == edgeSet(full))
  }

  test("census drift: measured per pinned ingest, refuses a stale epoch, re-pin recovers") {
    val all = FilesGen.local(n)
    val (a, rest) = all.splitAt(n / 2)
    val (b, c) = rest.splitAt(n / 4)
    // cap = 1: any shingle reaching df 2 flips hot — on this long-tail
    // fixture the delta re-mentions base singleton shingles, so the
    // fresh census MUST diverge from the pinned one (drift > 0)
    def cfgT(drift: Option[Double]) = Pipeline.Config(
      link = graft.link.Linking.Config(exactSmallThreshold = 0L,
        maxShingleDf = 1L, maxShingleDfFrac = 1e-12),
      maxCensusDrift = drift)
    val dir = tmpDir("drift")
    Pipeline.run(spark, a.toDS(), dir, "dr-base", cfgT(None))
    Pipeline.pinEpoch(spark, dir, "dr-pin", cfgT(None))

    // a zero-tolerance bound refuses the ingest and names the recovery
    val ex = intercept[IllegalArgumentException] {
      Pipeline.runIncrementalPinned(spark, b.toDS(), dir, "dr-d1",
        cfgT(Some(0.0)))
    }
    assert(ex.getMessage.contains("census drift") &&
      ex.getMessage.contains("pinEpoch"), ex.getMessage)

    // recovery exactly as the message prescribes: the SAME runId
    // through the global relink (idempotent extract — the refused
    // ingest's delta is reused, not re-extracted), then re-pin
    assert(Snapshots.versions(dir, "extract").length == 2)
    Pipeline.runIncremental(spark, b.toDS(), dir, "dr-d1", cfgT(None))
    assert(Snapshots.versions(dir, "extract").length == 2, "no re-extract")
    val fullAb = tmpDir("drift-fullab")
    Pipeline.run(spark, (a ++ b).toDS(), fullAb, "dr-fab", cfgT(None))
    assert(nodeSet(dir) == nodeSet(fullAb) && edgeSet(dir) == edgeSet(fullAb))

    // after the re-pin, a further pinned ingest runs under the fresh
    // census, records its drift, and equals from-scratch-under-census
    Pipeline.pinEpoch(spark, dir, "dr-pin2", cfgT(None))
    val hot2 = Snapshots.read(spark, dir, "ep_census")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Pipeline.runIncrementalPinned(spark, c.toDS(), dir, "dr-d2",
      cfgT(Some(1.0)))
    val keysV = Snapshots.versions(dir, "ep_keys").last
    val recorded = Snapshots.readManifestVersion(dir, "ep_keys", keysV)
      .metrics("censusDrift")
    val drift = recorded.toDouble
    assert(drift >= 0.0 && drift <= 1.0)

    // the recorded drift, recomputed with plain collections from the
    // stored state: the stage's lineage is its last full version plus
    // the deltas after it; the fresh cap comes from the entity
    // manifests; a delta key drifted when its df over the stored
    // shingle lineage classifies it differently from the pinned census
    def lineage(st: String): Seq[Int] = {
      val vs = Snapshots.versions(dir, st)
      val lastFull = vs.filter(v => !Snapshots.readManifestVersion(dir, st, v)
        .metrics.get("delta").contains("true")).last
      vs.filter(_ >= lastFull)
    }
    def shingleKeys(v: Int): Seq[(String, Long)] =
      Snapshots.readVersion(spark, dir, "ep_shingles", v)
        .select("pred", "shingles").as[(String, Seq[Long])].collect()
        .toSeq.flatMap { case (p, shs) => shs.map(p -> _) }
    val deltaV = lineage("ep_shingles").filter(v =>
      Snapshots.readManifestVersion(dir, "ep_shingles", v).runId == "dr-d2")
    assert(deltaV.length == 1)
    val deltaKeys = shingleKeys(deltaV.head).distinct
    assert(deltaKeys.nonEmpty)
    val dfOf = lineage("ep_shingles").flatMap(shingleKeys)
      .groupBy(identity).map { case (k, occ) => k -> occ.length.toLong }
    val nEnts = lineage("entities")
      .map(Snapshots.readManifestVersion(dir, "entities", _).rows).sum
    val freshCap = cfgT(None).link.stopShingleCap(nEnts)
    val pinnedHot = hot2.toSet
    val drifted = deltaKeys.count(k => (dfOf(k) > freshCap) != pinnedHot(k))
    val expected =
      if (deltaKeys.isEmpty) 0.0 else drifted.toDouble / deltaKeys.length
    assert(f"$expected%.6f" == recorded,
      s"recorded drift $recorded, recomputed $expected " +
        s"($drifted of ${deltaKeys.length} delta keys, cap $freshCap)")
    val full = tmpDir("drift-full")
    Pipeline.run(spark, all.toDS(), full, "dr-full",
      cfgT(None).copy(link = cfgT(None).link.copy(pinnedHot = Some(hot2))))
    assert(nodeSet(dir) == nodeSet(full) && edgeSet(dir) == edgeSet(full))
  }

  test("re-run with resume is a no-op yielding identical results") {
    val dir = tmpDir("c")
    val r1 = Pipeline.run(spark, files, dir, "run-c")
    val manifestTimes = Pipeline.Stages.map(s =>
      Files.getLastModifiedTime(
        Path.of(Snapshots.stageDir(dir, s), "_MANIFEST.json")))
    val r2 = Pipeline.run(spark, files, dir, "run-c2")
    val manifestTimes2 = Pipeline.Stages.map(s =>
      Files.getLastModifiedTime(
        Path.of(Snapshots.stageDir(dir, s), "_MANIFEST.json")))
    assert(manifestTimes == manifestTimes2, "resume must not rewrite stages")
    assert(r1.copy(runId = "x", ccIterations = 0) ==
      r2.copy(runId = "x", ccIterations = 0))
  }

  test("quarantined docs carry through: guard config quarantines and excludes") {
    val dir = tmpDir("d")
    val res = Pipeline.run(spark, files, dir, "run-d",
      Pipeline.Config(extraction =
        graft.extract.Extraction.Config(tokenLimit = 2000)))
    assert(res.quarantined > 0)
    val subjects = Snapshots.read(spark, dir, "edges")
      .select("subj").distinct().as[String].collect().toSet
    val oversize = FilesGen.local(n)
      .filter(f => GoldenOracle.tokens(f.content) > 2000)
      .map(f => s"${f.repo}/${f.path}").toSet
    assert(oversize.nonEmpty && subjects.intersect(oversize).isEmpty)
  }
}
