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

  private def copyRec(from: String, to: String): Unit =
    Files.walk(Path.of(from)).iterator().asScala.foreach { p =>
      val t = Path.of(to).resolve(Path.of(from).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  // the rows `runId` appended to a stage: its version minus the one
  // below it, as a multiset
  private def sliceOf(dir: String, st: String, runId: String) = {
    val v = Snapshots.versions(dir, st)
      .filter(Snapshots.readManifestVersion(dir, st, _).runId == runId).last
    Snapshots.readVersion(spark, dir, st, v)
      .exceptAll(Snapshots.readVersion(spark, dir, st, v - 1))
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
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2)).toDF("x", "b")
    }
    val base = Snapshots.readManifest(dir, "t").fileRows
      .map { case (k, r) => s"snap=1/$k" -> r }
    // v2 appends two rows to its append set; every base
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
    // v3: v2's delta set has no other prior set to absorb, so the
    // cascade CARRIES it by reference, and v3's one-row delta is a
    // set of its own, returned as the append's re-read
    val d3 = Snapshots.stageAppend(spark, dir, "t", "p3", Seq("b")) {
      Seq((50L, 1)).toDF("x", "b")
    }
    assert(d3.select("x", "b").as[(Long, Int)].collect().toSeq == Seq((50L, 1)))
    val m3 = Snapshots.readManifest(dir, "t")
    assert(appendRoots(m3) == Set("snap=2/append/d"))
    assert(m3.rows == 7 && readSet == v1Set ++ Set((10L, 0), (99L, 2), (50L, 1)))
    // v4: v3's one-row set cannot absorb v2's two rows: three sets
    Snapshots.stageAppend(spark, dir, "t", "p4", Seq("b")) {
      Seq((60L, 0), (61L, 2)).toDF("x", "b")
    }
    val m4 = Snapshots.readManifest(dir, "t")
    assert(appendRoots(m4) == Set("snap=2/append/d", "snap=3/append/d"))
    assert(m4.fileRows.keys.forall(_.startsWith("append/d/")))
    assert(m4.metrics("absorbedSets") == "0" && m4.metrics("appendSets") == "3")
    val v4Set = v1Set ++ Set((10L, 0), (99L, 2), (50L, 1), (60L, 0), (61L, 2))
    assert(m4.rows == 9 && readSet == v4Set)
    assert(Snapshots.appendStats(m4) == (5L, 3))
    // v5, an empty append, changes nothing but the version; its
    // cascade merges v4's two-row set with the others it absorbs
    // (1 ≤ 2, then 2 ≤ 3) into one set, and only the base stays carried
    val d5 = Snapshots.stageAppend(spark, dir, "t", "p5", Seq("b")) {
      spark.emptyDataset[(Long, Int)].toDF("x", "b")
    }
    assert(d5.isEmpty)
    val m5 = Snapshots.readManifest(dir, "t")
    assert(m5.baseFiles.get == base)
    assert(m5.fileRows.keys.exists(_.startsWith("append/m/")))
    assert(m5.metrics("absorbedSets") == "3")
    assert(Snapshots.appendStats(m5)._1 == 5L)
    assert(m5.rows == 9 && readSet == v4Set)
    // time travel: every published version reads as it was
    assert(Snapshots.readVersion(spark, dir, "t", 1).count() == 4)
    assert(Snapshots.readVersion(spark, dir, "t", 2).count() == 6)
    assert(Snapshots.readVersion(spark, dir, "t", 3).count() == 7)
    assert(Snapshots.readVersion(spark, dir, "t", 4).count() == 9)
    // expire guard: a version stays pinned while a published append
    // carries its files — v1 by every later version, v2 by v3 and v4,
    // v3 by v4
    intercept[IllegalArgumentException](Snapshots.expire(dir, "t", 1))
    intercept[IllegalArgumentException](Snapshots.expire(dir, "t", 2))
    intercept[IllegalArgumentException](Snapshots.expire(dir, "t", 3))
    Snapshots.expire(dir, "t", 4)
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
      (Pipeline.Stages ++ Pipeline.EpochStages)
        .foreach { st =>
          Snapshots.stage(spark, dir, st, "cr", resume = false) {
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

  // one snapshot layout: no manifest path has a k=v (partition) segment
  private def plainPaths(m: Snapshots.Manifest): Boolean =
    !(m.fileRows.keys.map(k => s"snap=${m.version}/$k") ++
      m.baseFiles.getOrElse(Map.empty).keys)
      .exists(_.split('/').tail.init.exists(_.contains("=")))

  // the assign map holds only what CC computes: no identity row
  private def assertMapRows(dir: String, clue: String): Unit =
    assert(Snapshots.read(spark, dir, "assign")
      .filter($"canonicalId" === $"entityId").isEmpty,
      s"identity row in assign: $clue")

  // the assign map a resolving read sees: stored rows through the dirty
  // canon log, plus the log's pair of each merged-away root (a root has
  // no row of its own)
  private def resolvedMap(dir: String): org.apache.spark.sql.DataFrame = {
    val map = Snapshots.read(spark, dir, "assign")
    if (!Pipeline.canonLogDirty(dir)) map
    else {
      val log = Snapshots.read(spark, dir, Pipeline.CanonLogStage)
        .select($"oldRoot", $"newRoot")
      map.join(log, $"canonicalId" === $"oldRoot", "left")
        .select($"entityId",
          org.apache.spark.sql.functions.coalesce($"newRoot", $"canonicalId")
            .as("canonicalId"))
        .unionByName(log.toDF("entityId", "canonicalId")
          .join(map, Seq("entityId"), "left_anti"))
    }
  }

  // equal as multisets, both ways
  private def sameRows(x: org.apache.spark.sql.DataFrame,
                       y: org.apache.spark.sql.DataFrame): Boolean =
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty

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
    // a recompute over a dir that has taken an ingest deletes its
    // versions too: the same graph as from scratch, one extract version
    val redo = Pipeline.run(spark, more.toDS(), dir, "run-4",
      Pipeline.Config(resume = false))
    assert(redo.copy(runId = "x") == rFull.copy(runId = "x"))
    assert(Snapshots.versions(dir, "extract") == Seq(1))
    assert(nodeSet(dir) == nodeSet(full))
    assert(edgeSet(dir) == edgeSet(full))
  }

  test("resume after kill between stages reproduces the fresh run") {
    val fresh = tmpDir("a")
    val r1 = Pipeline.run(spark, files, fresh, "run-a")
    val built = tmpDir("b")
    Pipeline.run(spark, files, built, "run-b")

    // the crash points: after each publish of the run, in publish
    // order — nodes and edges publish concurrently, so after each
    // subset of the two — and after the canon log (the commit). Each
    // point rolls the later stages back on a copy of the built dir
    // (their data and versioned manifests stay, the kill window of
    // FIXTURES.md §5) and resumes.
    val order = Pipeline.Stages :+ Pipeline.CanonLogStage
    val serial = Pipeline.Stages.takeWhile(_ != "nodes")
    val points: Seq[Seq[String]] =
      serial.indices.map(i => serial.take(i + 1)) ++
        Seq(Seq("nodes"), Seq("edges"), Seq("nodes", "edges"))
          .map(serial ++ _) :+ order
    points.foreach { published =>
      val at = s"published: ${published.mkString(", ")}"
      val dir = tmpDir("b-crash")
      copyRec(built, dir)
      order.reverse.filterNot(published.contains)
        .foreach(Snapshots.rollback(dir, _, "run-b"))
      order.foreach(st =>
        assert(Snapshots.isComplete(dir, st) == published.contains(st), at))
      val r2 = Pipeline.run(spark, files, dir, "run-b-resumed")
      assert(r2.copy(runId = "x", ccIterations = 0) ==
        r1.copy(runId = "x", ccIterations = 0), at)
      assertSameGraph(dir, fresh, at)
      deleteRec(Path.of(dir))
    }
    Seq(fresh, built).foreach(d => deleteRec(Path.of(d)))
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
    // versions, the empty ingest's append and then one appending ONLY
    // the delta's triples
    assert(Snapshots.versions(inc, "extract") == Seq(1, 2, 3))
    def slice(v: Int) =
      Snapshots.deltaRows(Snapshots.readManifestVersion(inc, "extract", v))
    val v1 = slice(1)
    assert(slice(2) == 0L)
    val v3 = slice(3)
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

    // crash-retry: simulate a crash AFTER nodes published but BEFORE
    // edges did (edges and the canon log roll back to their pre-ingest
    // versions, the state that crash leaves), then retry the SAME
    // ingest — it rolls its partial state back, so the delta extract
    // is NOT appended twice (union would double-count its triples),
    // and the repaired graph still equals the from-scratch run
    Seq(Pipeline.CanonLogStage, "edges")
      .foreach(Snapshots.rollback(inc, _, "run-delta"))
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
      Seq("nodes", "edges").foreach(st => assert(
        plainPaths(Snapshots.readManifest(inc, st)), s"$st $when"))
      assert(Pipeline.readNodes(spark, inc).schema == plainNodesSchema, when)
      assert(Pipeline.readEdges(spark, inc).schema == plainEdgesSchema, when)
    }
    assertPlainLayout("after the base run")
    // no manifest lists a zero-row file: the base run's clean canon log
    // is empty and lists none
    assert(Snapshots.readManifestVersion(inc, Pipeline.CanonLogStage, 1)
      .fileRows.isEmpty)
    // an empty pinned ingest appends an empty slice to every delta
    // stage (its extract writes no file) and changes no count; it moves
    // no delta id, so its assign append lists no file and adds no
    // append set
    val rEmpty = Pipeline.runIncrementalPinned(spark,
      spark.emptyDataset[SourceFile], inc, "ep-empty", cfg(None))
    assert(Snapshots.deltaRows(
      Snapshots.readManifestVersion(inc, "extract", 2)) == 0L)
    assert(rEmpty.nodes == rBase.nodes && rEmpty.edges == rBase.edges)
    val emptyAssign = Snapshots.readManifest(inc, "assign")
    assert(emptyAssign.runId == "ep-empty" && emptyAssign.fileRows.isEmpty &&
      emptyAssign.metrics.get("newFiles").contains("0"), emptyAssign.metrics)
    assert(Snapshots.appendStats(emptyAssign) == Snapshots.appendStats(
      Snapshots.readManifestVersion(inc, "assign", 1)))
    val rPinned = Pipeline.runIncrementalPinned(spark, b.toDS(), inc,
      "ep-delta", cfg(None))
    // the default-Config ingest took the O(delta) merge-on-read tail:
    // defer-marked appends and a dirty canon log as its commit record.
    // AQE sizes each small rebalanced append as one file, and an append
    // of no rows (an assign slice that moved no delta id) as none
    Seq("assign", "nodes", "edges").foreach { st =>
      val m = Snapshots.readManifest(inc, st)
      assert(m.runId == "ep-delta" && m.metrics.get("defer").contains("true"),
        s"$st not deferred")
      val files = if (Snapshots.deltaRows(m) > 0L) "1" else "0"
      assert(m.metrics.get("newFiles").contains(files), s"$st: ${m.metrics}")
    }
    assert(Snapshots.deltaRows(Snapshots.readManifest(inc, "nodes")) > 0L)
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
    // keys, and link_edges all carry the empty ingest's and the delta's
    // versions; the extract stayed delta-only
    Seq("extract", "entities", "ep_keys", "link_edges")
      .foreach { st =>
        assert(Snapshots.versions(inc, st) == Seq(1, 2, 3), st)
      }
    Seq("entities", "ep_keys", "link_edges").foreach { st =>
      val m = Snapshots.readManifestVersion(inc, st, 3)
      assert(m.runId == "ep-delta" && m.baseFiles.exists(_.nonEmpty), st)
    }

    // crash-retry mid-chain: kill after the assign and nodes appends
    // published but before the edges append did; the retry rolls the
    // whole uncommitted ingest back, re-runs it, and must not append
    // duplicate delta slices anywhere
    Seq(Pipeline.CanonLogStage, "edges")
      .foreach(Snapshots.rollback(inc, _, "ep-delta"))
    val rRetry = Pipeline.runIncrementalPinned(spark, b.toDS(), inc,
      "ep-delta", cfg(None))
    Seq("entities", "ep_keys", "link_edges").foreach { st =>
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
      // cb is a nodes/edges column: the assign map has none
      assert(m.metrics.get("canonBuckets") ==
        Option.when(st != "assign")("64"), st)
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

    // crash-retry HALF-APPLIED: the assign append published, the
    // nodes and edges appends and the canon log did not → the retry
    // rolls the uncommitted ingest back (the pair graph is only
    // derivable pre-ingest), heals through the O(delta) tail, and still
    // equals the from-scratch graph
    val inc2 = tmpDir("icc2")
    Pipeline.run(spark, a.toDS(), inc2, "icc-base", cfg)
    Pipeline.pinEpoch(spark, inc2, "icc-pin", cfg)
    Pipeline.runIncrementalPinned(spark, b.toDS(), inc2, "icc-d1", cfg)
    Seq(Pipeline.CanonLogStage, "edges", "nodes")
      .foreach(Snapshots.rollback(inc2, _, "icc-d1"))
    val rHeal = Pipeline.runIncrementalPinned(spark, b.toDS(), inc2,
      "icc-d1", cfg)
    val fullAb = tmpDir("icc-fullab")
    Pipeline.run(spark, (a ++ b).toDS(), fullAb, "icc-fab", cfg)
    // healed O(delta): every icc-d1 tail version is a defer-marked
    // append (no full tail version), and the log is dirty. The base
    // corpus links nothing, so its assign map is empty and lists no
    // file: only nodes and edges carry base files
    Seq("assign", "nodes", "edges").foreach { st =>
      val ms = Snapshots.versions(inc2, st)
        .map(Snapshots.readManifestVersion(inc2, st, _))
        .filter(_.runId == "icc-d1")
      assert(ms.nonEmpty && ms.forall(m =>
        m.baseFiles.exists(_.nonEmpty || st == "assign") &&
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
    // no k=v path, and the read schemas are exactly those of the
    // former cb-partitioned layout
    def assertPlainCb(): Unit = {
      Seq("assign", "nodes", "edges").foreach { st =>
        Snapshots.versions(inc, st).foreach { v =>
          val m = Snapshots.readManifestVersion(inc, st, v)
          assert(plainPaths(m), s"$st v$v: ${m.fileRows.keys}")
        }
      }
      assert(Pipeline.readNodes(spark, inc).schema == bucketedNodesSchema)
      assert(Pipeline.readEdges(spark, inc).schema == bucketedEdgesSchema)
    }
    assertPlainCb()
    assertMapRows(inc, "after the base run")
    Pipeline.pinEpoch(spark, inc, "if-pin", cfg)
    Pipeline.runIncrementalPinned(spark, b.toDS(), inc, "if-d1", cfg)
    // the ingest deferred (an append version by if-d1 carries the
    // marker) before the trigger folded it
    assert(Snapshots.versions(inc, "nodes").exists { v =>
      val m = Snapshots.readManifestVersion(inc, "nodes", v)
      m.runId == "if-d1" && m.metrics.get("defer").contains("true")
    })
    assertPlainCb()
    assertMapRows(inc, "after if-d1")
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
    // the folded map as stored is the from-scratch map
    assertMapRows(inc, "after if-d2")
    assert(!Pipeline.canonLogDirty(inc) &&
      !Snapshots.read(spark, full, "assign").isEmpty)
    assert(sameRows(Snapshots.read(spark, inc, "assign"),
      Snapshots.read(spark, full, "assign")), "folded assign")
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

    // the maintained chain stayed narrow: consolidation at each ingest
    // start folds the committed append sets and expires what it
    // superseded, so at most [folded full, the latest ingest's append]
    // remain, with one append set — while the unmaintained chain
    // accumulated base + 3 append versions
    Seq("entities", "link_edges", "ep_keys").foreach { st =>
      val vs = Snapshots.versions(inc, st)
      assert(vs.length <= 2, s"$st lineage not consolidated: $vs")
      assert(Snapshots.versions(incN, st).length == 4, st)
      assert(Snapshots.appendStats(Snapshots.readManifest(inc, st))._2 <= 1, st)
    }
    Seq("entities", "link_edges").foreach { st =>
      val vs = Snapshots.versions(inc, st)
      val live = Snapshots.readManifestVersion(inc, st, vs.head)
      if (vs.length == 2)
        assert(live.metrics.get("compacted").contains("true"), st)
      assert(Snapshots.appendStats(Snapshots.readManifest(incN, st))._2 >= 2, st)
    }
    // asks forms are not fuzzy, so every ep_keys slice is empty: it
    // lists no file and adds no append set, on either chain, so nothing
    // folds it; the maintained chain expires its file-less versions
    Seq(inc, incN).foreach(d => assert(
      Snapshots.appendStats(Snapshots.readManifest(d, "ep_keys")) == (0L, 0), d))
    // identical graphs and result counts on both chains
    assert(nodeSet(inc) == nodeSet(incN))
    assert(edgeSet(inc) == edgeSet(incN))
    assert(r.copy(runId = "x") == rN.copy(runId = "x"))

    // retry of the last ingest is still a no-op (it committed, and
    // consolidation of PRIOR runs keeps its commit record)
    val vBefore = Snapshots.versions(inc, "edges")
    val rRetry = Pipeline.runIncrementalPinned(spark,
      deltas(2).toDS(), inc, "lc-d2",
      Pipeline.Config(canonBuckets = Some(64),
        maxLineageDeltas = Some(1)))
    assert(Snapshots.versions(inc, "edges") == vBefore)
    assert(rRetry.copy(runId = "x") == r.copy(runId = "x"))

    // a FOREIGN crashed ingest (every lineage slice published, its
    // tail and canon log did not) is never folded: compactLineage
    // rolls it back first, then folds the committed deltas only
    val crashed = classes.take(3).map(w => f(s"x-$w.txt", Seq(w + "!"))) :+
      f("xnew.txt", Seq("lcrashed"))
    Pipeline.runIncrementalPinned(spark, crashed.toDS(), inc, "lc-crashed",
      Pipeline.Config(canonBuckets = Some(64)))
    Seq(Pipeline.CanonLogStage, "edges", "nodes", "assign")
      .foreach(Snapshots.rollback(inc, _, "lc-crashed"))
    val folded = Pipeline.compactLineage(spark, inc, "lc-d3", 1)
    assert(folded.toSet == Set("entities", "link_edges"), folded)
    Seq("extract", "entities", "link_edges", "ep_keys").foreach { st =>
      assert(!Snapshots.versions(inc, st).exists(v => Snapshots
        .readManifestVersion(inc, st, v).runId == "lc-crashed"),
        s"$st still holds the crashed slice")
    }
    // ep_keys, unfolded, kept only its live version: every older one
    // owned no file
    assert(Snapshots.versions(inc, "ep_keys") ==
      Seq(Snapshots.readManifest(inc, "ep_keys").version))
    assert(Snapshots.readManifest(inc, "entities").rows == rN.entities)
    assert(Snapshots.readManifest(inc, "link_edges").rows == rN.linkEdges)
    assert(nodeSet(inc) == nodeSet(incN))
    assert(edgeSet(inc) == edgeSet(incN))
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
    Snapshots.rollback(dir, Pipeline.CanonLogStage, "cr-x")
    assert(!Pipeline.committed(dir, "cr-x"))
    val stages = Seq("entities", "link_edges", "ep_keys")
    def deltasOfX(st: String): Seq[Int] = Snapshots.versions(dir, st)
      .filter(v => Snapshots.readManifestVersion(dir, st, v).runId == "cr-x")
    val before = stages.map(st => st -> Snapshots.versions(dir, st)).toMap
    val ofX = stages.map(st => st -> deltasOfX(st)).toMap
    assert(stages.forall(st => ofX(st).nonEmpty), before)
    // compactLineage rolls the uncommitted ingest back and folds
    // nothing: no committed delta is left
    val folded = Pipeline.compactLineage(spark, dir, "y", 1)
    assert(folded.isEmpty, s"folded uncommitted deltas of cr-x: $folded")
    stages.foreach { st =>
      assert(Snapshots.versions(dir, st) == before(st).diff(ofX(st)), st)
      assert(deltasOfX(st).isEmpty, st)
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
        // an append version has baseFiles, a full one none (the base
        // corpus links nothing, so assign's base lists no file to carry)
        assert(Snapshots.versions(inc, st).tail.forall(v => Snapshots
          .readManifestVersion(inc, st, v).baseFiles.isDefined),
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
      // the map before a fold: non-identity rows only, and the
      // from-scratch map once resolved through the log
      assertMapRows(inc, tag)
      assert(sameRows(resolvedMap(inc), Snapshots.read(spark, full, "assign")),
        s"log-resolved assign ($tag)")
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
    // the fold stored the log's pairs in the map: as stored, it is the
    // from-scratch map
    assertMapRows(inc, "after the fold")
    assert(sameRows(Snapshots.read(spark, inc, "assign"),
      Snapshots.read(spark, full, "assign")), "folded assign")

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
    val ends = sliceOf(inc, "link_edges", "lk-d2").select("src", "dst")
      .as[(Long, Long)].collect().flatMap { case (s, d) => Seq(s, d) }.toSet
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
    // through the global relink (the refused ingest never committed,
    // so the relink rolls its slices back and re-extracts its delta in
    // place of them), then re-pin
    assert(Snapshots.versions(dir, "extract").length == 2)
    Pipeline.runIncremental(spark, b.toDS(), dir, "dr-d1", cfgT(None))
    assert(Snapshots.versions(dir, "extract").length == 2,
      "no duplicate extract version")
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
    // stored state: the live shingle table includes the delta's append;
    // the fresh cap comes from the live entity manifest; a delta key
    // drifted when its df over the stored shingle table classifies it
    // differently from the pinned census
    def shingleKeys(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.select("pred", "shingles").as[(String, Seq[Long])].collect()
        .toSeq.flatMap { case (p, shs) => shs.map(p -> _) }
    assert(Snapshots.versions(dir, "entities").count(v =>
      Snapshots.readManifestVersion(dir, "entities", v).runId == "dr-d2") == 1)
    val deltaKeys = shingleKeys(graft.link.Linking.shingleTable(
      sliceOf(dir, "entities", "dr-d2"))).distinct
    assert(deltaKeys.nonEmpty)
    val dfOf = shingleKeys(graft.link.Linking.shingleTable(
      Snapshots.read(spark, dir, "entities")))
      .groupBy(identity).map { case (k, occ) => k -> occ.length.toLong }
    val nEnts = Snapshots.readManifest(dir, "entities").rows
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

  // ---- the commit protocol: the live canon log's stamp names the
  // committed extract prefix, and every writer first rolls back what
  // lies above it. A crash is simulated by Snapshots.rollback on the
  // stages the crashed ingest had not yet published: exactly the
  // state a crash leaves (the previous live version, plus an orphan
  // above it).

  // an asks file: one question per form (exact-norm links only)
  private def asks(name: String, forms: String*): SourceFile =
    SourceFile("r", name, "c0", "md", forms.map(w => s"q: $w?").mkString("\n"))

  // hosts: base forms, their upper-case twins (exact-norm links) and
  // their www. variants (fuzzy links on the banded path)
  private val hosts = (0 until 24).map(i => s"svc$i-gateway.region$i.example.net")
  private def host(name: String, h: String): SourceFile =
    SourceFile("r", name, "c0", "md", s"see https://$h/x")
  private val bandedCfg = Pipeline.Config(link =
    graft.link.Linking.Config(exactSmallThreshold = 0L))

  // equal as multisets: exceptAll both ways sees duplicate rows, which
  // nodeSet / edgeSet would hide
  private def assertSameGraph(dir: String, full: String, clue: String): Unit = {
    def same(x: org.apache.spark.sql.DataFrame,
             y: org.apache.spark.sql.DataFrame): Boolean =
      x.exceptAll(y).unionByName(y.exceptAll(x)).isEmpty
    assert(same(Pipeline.readNodes(spark, dir), Pipeline.readNodes(spark, full)),
      s"nodes differ: $clue")
    assert(same(Pipeline.readEdges(spark, dir), Pipeline.readEdges(spark, full)),
      s"edges differ: $clue")
  }

  // the counts a pinned ingest shares with a from-scratch run
  private def counts(r: Pipeline.Result) =
    (r.triples, r.quarantined, r.entities, r.nodes, r.edges)

  // the frozen census of a pinned dir, for a from-scratch comparator
  private def censusOf(dir: String): Seq[(String, Long)] =
    Snapshots.read(spark, dir, "ep_census")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  test("a pinned ingest's link_edges slice with exact and fuzzy edges is one file") {
    val dir = tmpDir("le-files")
    Pipeline.run(spark, hosts.zipWithIndex.map { case (h, i) =>
      host(s"a$i.md", h) }.toDS(), dir, "le-base", bandedCfg)
    Pipeline.pinEpoch(spark, dir, "le-pin", bandedCfg)
    val delta = hosts.zipWithIndex.map { case (h, i) =>
      host(s"d$i.md", if (i % 2 == 0) h.toUpperCase else s"www.$h") }
    Pipeline.runIncrementalPinned(spark, delta.toDS(), dir, "le-d", bandedCfg)
    val m = Snapshots.readManifest(dir, "link_edges")
    assert(m.runId == "le-d" && m.baseFiles.exists(_.nonEmpty))
    // an edge is exact when its endpoints share a norm, fuzzy otherwise
    val norms = Snapshots.read(spark, dir, "entities").select("entityId", "norm")
      .as[(Long, String)].collect().toMap
    val pairs = sliceOf(dir, "link_edges", "le-d")
      .select("src", "dst").as[(Long, Long)].collect().toSeq
    val exact = pairs.count { case (a, b) => norms(a) == norms(b) }
    assert(exact > 0 && pairs.length - exact > 0,
      s"need exact and fuzzy delta edges: $exact of ${pairs.length} exact")
    assert(m.fileRows.size == 1, s"link_edges slice files: ${m.fileRows}")
    deleteRec(Path.of(dir))
  }

  test("re-running a committed pinned ingest after a later ingest is a no-op") {
    val classes = (0 until 20).map(i => s"rword$i")
    val a = classes.zipWithIndex.map { case (w, i) => asks(s"a$i.txt", w) }
    val r = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 0 => asks(s"r$i.txt", w.toUpperCase)
    } :+ asks("rnew.txt", "rbrandnew")
    val s = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 1 => asks(s"s$i.txt", w + ".")
    } :+ asks("snew.txt", "sbrandnew")
    val dir = tmpDir("rerun")
    Pipeline.run(spark, a.toDS(), dir, "rr-base")
    Pipeline.pinEpoch(spark, dir, "rr-pin")
    Pipeline.runIncrementalPinned(spark, r.toDS(), dir, "rr-r")
    val rS = Pipeline.runIncrementalPinned(spark, s.toDS(), dir, "rr-s")
    val stages = Pipeline.Stages ++ Seq("ep_keys", Pipeline.CanonLogStage)
    val before = stages.map(st => st -> Snapshots.versions(dir, st)).toMap
    val rAgain = Pipeline.runIncrementalPinned(spark, r.toDS(), dir, "rr-r")
    val full = tmpDir("rerun-full")
    Pipeline.run(spark, (a ++ r ++ s).toDS(), full, "rr-full")
    assertSameGraph(dir, full, "after re-running rr-r")
    assert(rAgain.copy(runId = "x") == rS.copy(runId = "x"))
    stages.foreach(st => assert(Snapshots.versions(dir, st) == before(st), st))
    deleteRec(Path.of(dir)); deleteRec(Path.of(full))
  }

  test("compactTail between a crashed pinned ingest and its retry folds no uncommitted append") {
    val classes = (0 until 20).map(i => s"tword$i")
    val a = classes.zipWithIndex.map { case (w, i) => asks(s"a$i.txt", w) }
    val x = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 0 => asks(s"x$i.txt", w.toUpperCase)
    } :+ asks("xnew.txt", "tbrandnew")
    val dir = tmpDir("foldcrash")
    Pipeline.run(spark, a.toDS(), dir, "ct-base")
    Pipeline.pinEpoch(spark, dir, "ct-pin")
    val rX = Pipeline.runIncrementalPinned(spark, x.toDS(), dir, "ct-x")
    // crash: the three tail appends published, the canon log did not
    Snapshots.rollback(dir, Pipeline.CanonLogStage, "ct-x")
    Pipeline.compactTail(spark, dir, "ct-fold", 1e-9)
    val rRetry = Pipeline.runIncrementalPinned(spark, x.toDS(), dir, "ct-x")
    val full = tmpDir("foldcrash-full")
    Pipeline.run(spark, (a ++ x).toDS(), full, "ct-full")
    assertSameGraph(dir, full, "retry after a fold")
    assert(rRetry == rX)
    deleteRec(Path.of(dir)); deleteRec(Path.of(full))
  }

  test("compactTail crash-point sweep: a fold crashed after any subset of its publishes re-folds to the uncrashed fold") {
    val classes = (0 until 24).map(i => s"zword$i")
    val a = classes.zipWithIndex.map { case (w, i) => asks(s"a$i.txt", w) }
    val b = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 0 => asks(s"b$i.txt", w.toUpperCase)
    } :+ asks("bnew.txt", "zbrandnew")
    val c = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 1 => asks(s"c$i.txt", w + ".")
    } :+ asks("cnew.txt", "zbrandnew2")
    val dir = tmpDir("foldsweep")
    Pipeline.run(spark, a.toDS(), dir, "fs-base")
    Pipeline.pinEpoch(spark, dir, "fs-pin")
    Pipeline.runIncrementalPinned(spark, b.toDS(), dir, "fs-b")
    Pipeline.runIncrementalPinned(spark, c.toDS(), dir, "fs-c")
    assert(Snapshots.readManifest(dir, Pipeline.CanonLogStage).rows > 0,
      "the sweep needs merged-away roots in the log")
    // an ingest that re-mentions every base form, the merged-away roots
    // among them
    val x = classes.zipWithIndex.map { case (w, i) => asks(s"x$i.txt", w) }
    val fullX = tmpDir("foldsweep-fullx")
    Pipeline.run(spark, (a ++ b ++ c ++ x).toDS(), fullX, "fs-fullx")
    val tail = Seq("assign", "nodes", "edges")
    val ref = tmpDir("foldsweep-ref")
    copyRec(dir, ref)
    assert(Pipeline.compactTail(spark, ref, "fs-fold", 1e-9) == tail)
    // the three folds publish concurrently, so a crash can leave any
    // subset of them published, the canon log still dirty (all three:
    // the crash between the folds and the log-clear)
    (0 to 3).flatMap(tail.combinations).foreach { folded =>
      val at = s"folded: ${folded.mkString(", ")}"
      val d = tmpDir("foldsweep-crash")
      copyRec(dir, d)
      Pipeline.compactTail(spark, d, "fs-fold", 1e-9)
      (Pipeline.CanonLogStage +: tail.filterNot(folded.contains))
        .foreach(Snapshots.rollback(d, _, "fs-fold"))
      assert(Pipeline.canonLogDirty(d), at)
      if (folded == tail) {
        // an ingest in the crash window: the folded map holds the
        // dirty log's pairs too, and the graph stays exact
        val dx = tmpDir("foldsweep-ingest")
        copyRec(d, dx)
        Pipeline.runIncrementalPinned(spark, x.toDS(), dx, "fs-x")
        assertSameGraph(dx, fullX, s"an ingest after the crash, $at")
        deleteRec(Path.of(dx))
      }
      assert(Pipeline.compactTail(spark, d, "fs-refold", 1e-9) == tail, at)
      assert(!Pipeline.canonLogDirty(d), at)
      val map = Snapshots.read(spark, d, "assign")
      assert(map.count() == map.select("entityId").distinct().count(),
        s"duplicate entityId in assign, $at")
      tail.foreach(st => assert(sameRows(Snapshots.read(spark, d, st),
        Snapshots.read(spark, ref, st)), s"$st differs from the uncrashed fold, $at"))
      deleteRec(Path.of(d))
    }
    Seq(dir, ref, fullX).foreach(d => deleteRec(Path.of(d)))
  }

  test("an ingest after a crashed ingest builds on the committed graph only") {
    val classes = (0 until 20).map(i => s"oword$i")
    val base = classes.zipWithIndex.map { case (w, i) => asks(s"o$i.txt", w) }
    // A and B share the new form "oshared"
    val a = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 0 => asks(s"a$i.txt", w.toUpperCase)
    } :+ asks("ashared.txt", "oshared")
    val b = classes.zipWithIndex.collect {
      case (w, i) if i % 2 == 1 => asks(s"b$i.txt", w + ".")
    } :+ asks("bshared.txt", "oshared", "obrandnew")
    val dir = tmpDir("aftercrash")
    Pipeline.run(spark, base.toDS(), dir, "ac-base")
    Pipeline.pinEpoch(spark, dir, "ac-pin")
    Pipeline.runIncrementalPinned(spark, a.toDS(), dir, "ac-a")
    // crash: A's extract and entities slices published, nothing after
    Seq(Pipeline.CanonLogStage, "edges", "nodes", "assign", "link_edges",
      "ep_keys").foreach(Snapshots.rollback(dir, _, "ac-a"))
    val rB = Pipeline.runIncrementalPinned(spark, b.toDS(), dir, "ac-b")
    val fullB = tmpDir("aftercrash-fullb")
    val rFullB = Pipeline.run(spark, (base ++ b).toDS(), fullB, "ac-fb")
    assertSameGraph(dir, fullB, "B after the crashed A")
    assert(counts(rB) == counts(rFullB))
    // A's retry then lands on top of B
    val rA = Pipeline.runIncrementalPinned(spark, a.toDS(), dir, "ac-a")
    val full = tmpDir("aftercrash-full")
    val rFull = Pipeline.run(spark, (base ++ a ++ b).toDS(), full, "ac-full")
    assertSameGraph(dir, full, "A retried after B")
    assert(counts(rA) == counts(rFull))
    Seq(dir, fullB, full).foreach(d => deleteRec(Path.of(d)))
  }

  test("a format-1 run dir is refused by every writer with the rebuild message") {
    val corpus = (0 until 12).map(i => asks(s"f$i.txt", s"fword$i"))
    // a format-1 base run has no canon log; a format-1 ingested dir
    // has one, without the extractVersion stamp; a format-3 base run's
    // entities have no shingles column (its link stage shingled in
    // scratch); a format-4 dir after a pinned ingest has two full
    // extract versions (the second only its slice) and no runId
    // markers; a format-5 base run's extract and assign were
    // partitioned by q and ident; a format-6 base run kept its shingle
    // table as an ep_shingles stage beside entities without the column
    Seq(("base", 1), ("ingested", 1), ("format3", 3), ("pinned", 4),
      ("format5", 5), ("format6", 6)).foreach {
      case (variant, format) =>
      val dir = tmpDir(s"format$format-$variant")
      Pipeline.run(spark, corpus.toDS(), dir, "f1-base")
      if (format == 1 || format == 4) Pipeline.pinEpoch(spark, dir, "f1-pin")
      if (variant == "base")
        deleteRec(Path.of(Snapshots.stageDir(dir, Pipeline.CanonLogStage)))
      if (format == 6)
        Snapshots.stage(spark, dir, "ep_shingles", "f1-base", resume = false) {
          graft.link.Linking.shingleTable(Snapshots.read(spark, dir, "entities"))
        }
      if (format == 3 || format == 6)
        Snapshots.stage(spark, dir, "entities", "f1-base", resume = false) {
          Snapshots.read(spark, dir, "entities").drop("shingles")
        }
      val extractDir = Path.of(Snapshots.stageDir(dir, "extract"))
      if (format == 4) {
        Pipeline.runIncrementalPinned(spark, Seq(asks("h.txt", "hword")).toDS(),
          dir, "f4-x")
        Files.list(extractDir).iterator().asScala
          .filter(_.getFileName.toString.startsWith("_RUN.")).foreach(Files.delete)
      }
      def tree(): Map[String, Seq[Byte]] = Files.walk(Path.of(dir))
        .iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
      tree().keys.filter(_.contains("_MANIFEST")).foreach { f =>
        val p = Path.of(f)
        val restamped = Files.readString(p).replaceFirst(
          "\"formatVersion\"\\s*:\\s*\\d+", s"\"formatVersion\" : $format")
        Files.writeString(p,
          if (format == 1) restamped.replace("\"extractVersion\"", "\"formerKey\"")
          else if (format == 4 && p.getParent == extractDir) {
            // every extract version a full snapshot, as format 4 wrote them
            import org.json4s._
            import org.json4s.jackson.JsonMethods._
            pretty(render(parse(restamped).removeField { case (k, _) =>
              Set("baseFiles", "baseFileBytes", "appendSchema")(k) }))
          } else restamped)
      }
      val before = tree()
      def refused(call: String)(body: => Any): Unit = {
        val ex = intercept[IllegalArgumentException](body)
        assert(ex.getMessage.contains(s"snapshot format $format") &&
          ex.getMessage.contains(s"needs format ${Snapshots.FormatVersion}") &&
          ex.getMessage.contains("Rebuild into a fresh runDir"),
          s"$variant $call: ${ex.getMessage}")
      }
      val more = Seq(asks("g.txt", "gword")).toDS()
      refused("run")(Pipeline.run(spark, corpus.toDS(), dir, "f1-base"))
      refused("runIncremental")(Pipeline.runIncremental(spark, more, dir, "f1-x"))
      refused("runIncrementalPinned")(
        Pipeline.runIncrementalPinned(spark, more, dir, "f1-x"))
      refused("pinEpoch")(Pipeline.pinEpoch(spark, dir, "f1-pin2"))
      refused("compactTail")(Pipeline.compactTail(spark, dir, "f1-f", 0.0))
      refused("compactLineage")(Pipeline.compactLineage(spark, dir, "f1-l", 1))
      refused("ingestBatch")(
        graft.streaming.Streaming.ingestBatch(more, 7L, dir))
      assert(tree() == before, s"$variant: a refused call changed a file")
      deleteRec(Path.of(dir))
    }
  }

  test("crash-point sweep: a pinned ingest crashed after any publish retries to the uncrashed graph and Result") {
    val a = hosts.zipWithIndex.map { case (h, i) => host(s"a$i.md", h) }
    val p1 = hosts.take(12).zipWithIndex.map { case (h, i) =>
      host(s"p$i.md", h.toUpperCase) }
    // the swept ingest: exact twins of the other hosts, fuzzy variants
    // of every host
    val x = hosts.drop(12).zipWithIndex.map { case (h, i) =>
      host(s"x$i.md", h.toUpperCase) } ++
      hosts.zipWithIndex.map { case (h, i) => host(s"w$i.md", s"www.$h") }
    val dir = tmpDir("sweep")
    Pipeline.run(spark, a.toDS(), dir, "sw-base", bandedCfg)
    Pipeline.pinEpoch(spark, dir, "sw-pin", bandedCfg)
    Pipeline.runIncrementalPinned(spark, p1.toDS(), dir, "sw-p1", bandedCfg)
    val rX = Pipeline.runIncrementalPinned(spark, x.toDS(), dir, "sw-x",
      bandedCfg)
    // from-scratch comparator under the pinned census
    val full = tmpDir("sweep-full")
    Pipeline.run(spark, (a ++ p1 ++ x).toDS(), full, "sw-full",
      bandedCfg.copy(link = bandedCfg.link.copy(
        pinnedHot = Some(censusOf(dir)))))
    assertSameGraph(dir, full, "uncrashed")

    // the ingest's publishes in order: four sequential lineage slices,
    // three concurrent tail appends, then the canon log (the commit)
    val lineage = Seq("extract", "entities", "ep_keys", "link_edges")
    val tail = Seq("assign", "nodes", "edges")
    val order = lineage ++ tail :+ Pipeline.CanonLogStage
    val points: Seq[(String, Set[String], Boolean)] =
      lineage.indices.map(i =>
        (s"after ${lineage(i)}", lineage.take(i + 1).toSet, false)) ++
      (for {
        k <- 1 to 3; sub <- tail.combinations(k); fold <- Seq(false, true)
      } yield (s"after ${sub.mkString("+")}" +
        (if (fold) ", compactTail before the retry" else ""),
        (lineage ++ sub).toSet, fold)) :+
      (("after the commit", order.toSet, false))
    // two crash windows of the runId index (stage=extract/_RUN.<runId>):
    // the extract published, its marker not yet written; and a rollback
    // of the uncommitted ingest that deleted the marker, then crashed
    // before extract's own rollback
    val marker = Path.of(Snapshots.stageDir(dir, "extract"), "_RUN.sw-x")
    val markerPoints = Seq(
      ("after extract, before its runId marker", Set("extract")),
      ("in a rollback, after the marker went and before extract's",
        (lineage ++ tail).toSet))
    (points.map { case (at, p, fold) => (at, p, fold, false) } ++
      markerPoints.map { case (at, p) => (at, p, false, true) }).foreach {
      case (at, published, fold, lostMarker) =>
      order.reverse.filterNot(published)
        .foreach(Snapshots.rollback(dir, _, "sw-x"))
      if (lostMarker) assert(Files.deleteIfExists(marker), at)
      if (fold) Pipeline.compactTail(spark, dir, "sw-fold", 1e-9)
      val r = Pipeline.runIncrementalPinned(spark, x.toDS(), dir, "sw-x",
        bandedCfg)
      assert(r == rX, at)
      assert(Snapshots.versions(dir, "extract") == Seq(1, 2, 3), at)
      assertSameGraph(dir, full, at)
    }
    Seq(dir, full).foreach(d => deleteRec(Path.of(d)))
  }

  test("the entry rule parses no extract version below the live one") {
    val classes = (0 until 12).map(i => s"iword$i")
    val a = classes.zipWithIndex.map { case (w, i) => asks(s"a$i.txt", w) }
    val x = Seq(asks("x.txt", "IWORD1", "ibrandnew"))
    val y = Seq(asks("y.txt", "iword2.", "inewer"))
    val dir = tmpDir("entry")
    Pipeline.run(spark, a.toDS(), dir, "en-base")
    Pipeline.pinEpoch(spark, dir, "en-pin")
    Pipeline.runIncrementalPinned(spark, x.toDS(), dir, "en-x")
    Pipeline.runIncrementalPinned(spark, y.toDS(), dir, "en-y")
    val live = Snapshots.readManifest(dir, "extract").version
    assert(live == 3)
    // every extract manifest below the live one made unparseable
    val below = (1 until live).map(v =>
      Path.of(Snapshots.stageDir(dir, "extract"), s"_MANIFEST.v$v.json"))
    val saved = below.map(p => p -> Files.readAllBytes(p))
    below.foreach(Files.writeString(_, "{ not a manifest"))
    try {
      intercept[Exception](Snapshots.readManifestVersion(dir, "extract", 1))
      Seq("en-base", "en-x", "en-y").foreach(r =>
        assert(Pipeline.committed(dir, r), r))
      assert(!Pipeline.committed(dir, "en-absent"))
      assert(Pipeline.rollbackUncommitted(dir).contains(live))
    } finally saved.foreach { case (p, b) => Files.write(p, b) }
    assert(Snapshots.readManifest(dir, "extract").version == live)
    deleteRec(Path.of(dir))
  }

  test("a re-pin crashed part-way leaves an incomplete epoch, which a pinned ingest refuses") {
    val a = (0 until 12).map(i => asks(s"a$i.txt", s"eword$i"))
    val x = Seq(asks("x.txt", "EWORD1", "ebrandnew")).toDS()
    val dir = tmpDir("repin")
    Pipeline.run(spark, a.toDS(), dir, "rp-base")
    Pipeline.pinEpoch(spark, dir, "rp-pin")
    // a re-pin that crashed after its ep_census publish: its ep_keys
    // never published
    Pipeline.pinEpoch(spark, dir, "rp-pin2")
    Snapshots.rollback(dir, "ep_keys", "rp-pin2")
    assert(Snapshots.isComplete(dir, "ep_census"))
    val ex = intercept[IllegalArgumentException](
      Pipeline.runIncrementalPinned(spark, x, dir, "rp-x"))
    assert(ex.getMessage.contains("no pinned epoch"), ex.getMessage)
    assert(Snapshots.versions(dir, "extract") == Seq(1))
    // re-running the pin completes the epoch, and the ingest runs
    Pipeline.pinEpoch(spark, dir, "rp-pin2")
    val r = Pipeline.runIncrementalPinned(spark, x, dir, "rp-x")
    val full = tmpDir("repin-full")
    val rFull = Pipeline.run(spark, (a :+ asks("x.txt", "EWORD1", "ebrandnew"))
      .toDS(), full, "rp-full")
    assertSameGraph(dir, full, "after the healed re-pin")
    assert(counts(r) == counts(rFull))
    Seq(dir, full).foreach(d => deleteRec(Path.of(d)))
  }

  test("a six-ingest pinned chain keeps a logarithmic append-set count per lineage stage") {
    // six deltas of one shape, so each lineage stage gains six equal
    // slices: six exact twins of base forms, one brand-new form and two
    // brand-new hosts (a shingle and band-key slice each)
    val rnd = new scala.util.Random(20261019L)
    def label(): String =
      Seq.fill(10)(('a' + rnd.nextInt(26)).toChar).mkString + ".example.org"
    val classes = (0 until 36).map(i => s"gword$i")
    val a = classes.zipWithIndex.map { case (w, i) => asks(s"a$i.txt", w) } ++
      (0 until 8).map(i => host(s"h$i.md", label()))
    val deltas = (0 until 6).map { d =>
      classes.slice(6 * d, 6 * d + 6).zipWithIndex.map { case (w, i) =>
        asks(s"d$d-$i.txt", w.toUpperCase) } ++
        Seq(asks(s"d$d-new.txt", s"gbrand$d"),
          host(s"d$d-h0.md", label()), host(s"d$d-h1.md", label()))
    }
    def chain(maxDeltas: Option[Int]): (String, Pipeline.Result) = {
      val cfg = bandedCfg.copy(maxLineageDeltas = maxDeltas)
      val dir = tmpDir(s"logsets-${maxDeltas.getOrElse(0)}")
      Pipeline.run(spark, a.toDS(), dir, "lg-base", cfg)
      Pipeline.pinEpoch(spark, dir, "lg-pin", cfg)
      val r = deltas.zipWithIndex.map { case (d, i) =>
        Pipeline.runIncrementalPinned(spark, d.toDS(), dir, s"lg-d$i", cfg)
      }.last
      (dir, r)
    }
    val (wide, rWide) = chain(None)
    val (folded, rFolded) = chain(Some(1))
    Seq("entities", "link_edges", "ep_keys").foreach { st =>
      val sets = Snapshots.appendStats(Snapshots.readManifest(wide, st))._2
      assert(sets >= 2 && sets <= 3, s"$st: $sets append sets after six ingests")
      assert(Snapshots.appendStats(Snapshots.readManifest(folded, st))._2 <= 1,
        st)
    }
    assertSameGraph(wide, folded, "unfolded chain vs a fold per ingest")
    assert(rWide.copy(runId = "x") == rFolded.copy(runId = "x"))
    Seq(wide, folded).foreach(d => deleteRec(Path.of(d)))
  }

  test("compactLineage crash-point sweep: a crash between the folds and the expiry heals, and the next fold expires what it left") {
    val lineage = Seq("entities", "link_edges", "ep_keys")
    val a = hosts.take(16).zipWithIndex.map { case (h, i) => host(s"a$i.md", h) }
    // each delta: an exact twin, a fuzzy variant and a brand-new host,
    // so every lineage stage gains a non-empty slice
    val deltas = (0 until 2).map { d =>
      Seq(host(s"d$d-u.md", hosts(d).toUpperCase),
        host(s"d$d-w.md", s"www.${hosts(4 + d)}"),
        host(s"d$d-n.md", hosts(16 + d)))
    }
    val cfg = bandedCfg.copy(maxLineageDeltas = Some(1))
    val dir = tmpDir("linsweep")
    Pipeline.run(spark, a.toDS(), dir, "ls-base", bandedCfg)
    Pipeline.pinEpoch(spark, dir, "ls-pin", bandedCfg)
    Pipeline.runIncrementalPinned(spark, deltas(0).toDS(), dir, "ls-d0",
      bandedCfg)
    lineage.foreach(st => assert(
      Snapshots.appendStats(Snapshots.readManifest(dir, st))._2 == 1, st))
    // the uncrashed chain: ls-d1 folds all three stages, then ingests
    val ref = tmpDir("linsweep-ref")
    copyRec(dir, ref)
    val rRef = Pipeline.runIncrementalPinned(spark, deltas(1).toDS(), ref,
      "ls-d1", cfg)
    // a crash between a fold and its expiry leaves folded versions
    // whose superseded versions stay: every subset of the three folds,
    // none expired (a superset of the states a real crash reaches)
    (0 to 3).flatMap(lineage.combinations).foreach { folded =>
      val at = s"folded: ${folded.mkString(", ")}"
      val d = tmpDir("linsweep-crash")
      copyRec(dir, d)
      folded.foreach { st =>
        val (_, sets) = Snapshots.appendStats(Snapshots.readManifest(d, st))
        Snapshots.compact(spark, d, st, "ls-d1-maint",
          Map("appendSetsFolded" -> sets.toString))()
      }
      val r = Pipeline.runIncrementalPinned(spark, deltas(1).toDS(), d,
        "ls-d1", cfg)
      assert(r == rRef, at)
      assertSameGraph(d, ref, at)
      lineage.foreach(st => assert(sameRows(Snapshots.read(spark, d, st),
        Snapshots.read(spark, ref, st)), s"$st differs, $at"))
      // the next fold folds every stage and expires every version below
      // it, the ones the crashed fold left included
      assert(Pipeline.compactLineage(spark, d, "ls-next", 1).toSet ==
        lineage.toSet, at)
      lineage.foreach { st =>
        assert(Snapshots.versions(d, st) ==
          Seq(Snapshots.readManifest(d, st).version), s"$st, $at")
      }
      assertSameGraph(d, ref, s"after the next fold, $at")
      deleteRec(Path.of(d))
    }
    Seq(dir, ref).foreach(d => deleteRec(Path.of(d)))
  }

  test("the entities' shingles column equals the shingle sets recomputed from norm") {
    import graft.link.Linking
    def same(x: org.apache.spark.sql.DataFrame,
             y: org.apache.spark.sql.DataFrame): Boolean =
      x.exceptAll(y).unionByName(y.exceptAll(x)).isEmpty
    val fuzzy = $"pred".isin(Linking.FuzzyPreds: _*)
    // the shingle table recomputed from the norms of the fuzzy rows
    def recomputed(ents: org.apache.spark.sql.DataFrame) =
      Linking.withShingles(ents.filter(fuzzy).drop("shingles"),
        Linking.ShingleSize).select("pred", "entityId", "shingles")
    // a fuzzy row's shingles are its recomputed set, every other row's null
    def assertShingles(ents: org.apache.spark.sql.DataFrame,
                       clue: String): Unit = {
      assert(!ents.filter(fuzzy).isEmpty && !ents.filter(!fuzzy).isEmpty, clue)
      assert(ents.filter(!fuzzy && $"shingles".isNotNull).isEmpty,
        s"shingles on a non-fuzzy row: $clue")
      assert(same(ents.filter(fuzzy).select("pred", "entityId", "shingles"),
        recomputed(ents)), clue)
    }
    def assertLive(dir: String, clue: String): Unit =
      assertShingles(Snapshots.read(spark, dir, "entities"), clue)
    // the epoch as the format-6 pinEpoch computed it: shingled again
    // from the live entities, census at the entities-rows cap
    def assertEpoch(dir: String, cfg: Pipeline.Config, clue: String): Unit = {
      val shingled = recomputed(Snapshots.read(spark, dir, "entities"))
      val hot = Linking.hotShingles(shingled, cfg.link.stopShingleCap(
        Snapshots.readManifest(dir, "entities").rows))
      assert(same(Snapshots.read(spark, dir, "ep_census"),
        hot.toDF("pred", "sh")), s"ep_census: $clue")
      assert(same(Snapshots.read(spark, dir, "ep_keys"),
        Linking.bandedKeyTable(shingled, cfg.link, hot)), s"ep_keys: $clue")
    }
    // hosts are fuzzy forms: base hosts, a global ingest of more hosts
    // and www. variants, then pinned ingests of upper-case twins,
    // variants and brand-new hosts; asks forms are not fuzzy
    val cfg = bandedCfg.copy(maxLineageDeltas = Some(1))
    val a = hosts.take(12).zipWithIndex.map { case (h, i) =>
      host(s"a$i.md", h) } :+ asks("aq.txt", "stword")
    val b = hosts.slice(12, 16).zipWithIndex.map { case (h, i) =>
      host(s"b$i.md", h) } :+ host("bw.md", s"www.${hosts(0)}")
    val deltas = (0 until 3).map { d =>
      Seq(host(s"d$d-u.md", hosts(d).toUpperCase),
        host(s"d$d-w.md", s"www.${hosts(16 + d)}"),
        host(s"d$d-n.md", s"fresh$d-api.zone$d.example.org"))
    }
    val dir = tmpDir("shtable")
    Pipeline.run(spark, a.toDS(), dir, "st-base", cfg)
    assertLive(dir, "after run")
    Pipeline.runIncremental(spark, b.toDS(), dir, "st-inc", cfg)
    assertLive(dir, "after runIncremental")
    Pipeline.pinEpoch(spark, dir, "st-pin", cfg)
    assertEpoch(dir, cfg, "after pinEpoch")
    deltas.zipWithIndex.foreach { case (d, i) =>
      Pipeline.runIncrementalPinned(spark, d.toDS(), dir, s"st-d$i", cfg)
      assertLive(dir, s"after pinned ingest $i")
    }
    // maxLineageDeltas = 1 folded entities before the later ingests: the
    // folded version carries the column as written
    val folds = Snapshots.versions(dir, "entities").filter(v => Snapshots
      .readManifestVersion(dir, "entities", v).runId.endsWith("-maint"))
    assert(folds.nonEmpty)
    folds.foreach(v => assertShingles(
      Snapshots.readVersion(spark, dir, "entities", v), s"lineage fold v$v"))
    // a re-pin after pinned ingests reads the appended table the same way
    Pipeline.pinEpoch(spark, dir, "st-pin2", cfg)
    assertEpoch(dir, cfg, "after a re-pin over pinned ingests")
    deleteRec(Path.of(dir))
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
    val cfg = Pipeline.Config(extraction =
      graft.extract.Extraction.Config(tokenLimit = 2000))
    val res = Pipeline.run(spark, files, dir, "run-d", cfg)
    assert(res.quarantined > 0)
    // the count carries across appended extract slices: a base run, a
    // pinned ingest and a global one count what one run counts
    val parts = FilesGen.local(n).grouped(n / 4).toSeq
    val inc = tmpDir("d-inc")
    Pipeline.run(spark, (parts(0) ++ parts(1)).toDS(), inc, "d-base", cfg)
    Pipeline.pinEpoch(spark, inc, "d-pin", cfg)
    // quarantine rows are extract rows with the quarantine pred: exactly
    // the counted ones, and none reaches the entities
    def assertQuarantine(r: Pipeline.Result, clue: String): Unit = {
      val isQ = $"pred" === graft.extract.Extraction.QuarantinePred
      assert(Snapshots.read(spark, inc, "extract").filter(isQ).count() ==
        r.quarantined, clue)
      assert(Snapshots.read(spark, inc, "entities").filter(isQ).isEmpty, clue)
    }
    val rPinned = Pipeline.runIncrementalPinned(spark, parts(2).toDS(), inc,
      "d-x", cfg)
    assertQuarantine(rPinned, "after the pinned ingest")
    val rInc = Pipeline.runIncremental(spark, parts(3).toDS(), inc, "d-y", cfg)
    assertQuarantine(rInc, "after the global ingest")
    assert(rInc.quarantined == res.quarantined && rInc.triples == res.triples)
    deleteRec(Path.of(inc))
    val subjects = Snapshots.read(spark, dir, "edges")
      .select("subj").distinct().as[String].collect().toSet
    val oversize = FilesGen.local(n)
      .filter(f => GoldenOracle.tokens(f.content) > 2000)
      .map(f => s"${f.repo}/${f.path}").toSet
    assert(oversize.nonEmpty && subjects.intersect(oversize).isEmpty)
  }
}
