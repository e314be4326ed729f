package graft

import graft.store.Snapshots
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import scala.jdk.CollectionConverters._

/** Manifest-planned snapshot reads: `Snapshots.read` plans scans from
  * the manifest's file list + recorded schemas — zero directory
  * listing — and must be indistinguishable from Spark's own reader
  * (`spark.read.parquet` on the snapshot dir) in schema and values.
  */
class SnapshotPlanSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-snapplan-$tag").toString

  private def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Spark's own (listing, inferring) read of snapshot v1 of stage t. */
  private def listed(dir: String): DataFrame =
    spark.read.parquet(Snapshots.snapshotDir(dir, "t", 1))

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("planned read == listed read on a partitioned full snapshot (schema, values, no listing)") {
    val dir = tmpDir("full")
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      Seq((1L, 0, "x"), (2L, 0, "y"), (3L, 1, "z"), (4L, 2, "w"))
        .toDF("x", "b", "s")
    }
    val planned = Snapshots.read(spark, dir, "t")
    assert(planned.schema == listed(dir).schema) // incl. b read as int
    assert(planned.schema("b").dataType.typeName == "integer")
    assert(rowsOf(planned) == rowsOf(listed(dir)))
    // the scan really is manifest-planned
    val scans = planned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.exists(_.relation.location.getClass.getSimpleName
      .contains("ManifestFileIndex")))
    deleteRec(Path.of(dir))
  }

  test("planned read == listed read across an append chain incl. time travel") {
    val dir = tmpDir("chain")
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2)).toDF("x", "b")
    }
    // v2's set is carried by v3 and v4 (v3's one-row set, which
    // carries the cascade at v4, cannot absorb it), then absorbed at v5
    Snapshots.stageAppend(spark, dir, "t", "p2", Seq("b")) {
      Seq((10L, 0), (99L, 2)).toDF("x", "b")
    }
    Snapshots.stageAppend(spark, dir, "t", "p3", Seq("b")) {
      Seq((50L, 1)).toDF("x", "b")
    }
    Snapshots.stageAppend(spark, dir, "t", "p4", Seq("b")) {
      Seq((7L, 2), (8L, 0), (9L, 1)).toDF("x", "b")
    }
    Snapshots.stageAppend(spark, dir, "t", "p5", Seq("b")) {
      Seq((11L, 1), (12L, 2)).toDF("x", "b")
    }
    assert(Snapshots.readManifest(dir, "t").metrics("absorbedSets") == "3")
    // v1 against Spark's reader; every version against the multiset
    // of its inputs, typed like v1
    val v1 = Snapshots.readVersion(spark, dir, "t", 1)
    assert(v1.schema == listed(dir).schema)
    assert(rowsOf(v1) == rowsOf(listed(dir)))
    val inputs = Seq(
      Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2)), Seq((10L, 0), (99L, 2)),
      Seq((50L, 1)), Seq((7L, 2), (8L, 0), (9L, 1)), Seq((11L, 1), (12L, 2)))
    (1 to 5).foreach { v =>
      val planned = Snapshots.readVersion(spark, dir, "t", v).select("x", "b")
      assert(planned.as[(Long, Int)].collect().toSeq.sorted ==
        inputs.take(v).flatten.sorted, s"version $v diverged")
      assert(planned.schema == listed(dir).select("x", "b").schema,
        s"version $v schema diverged")
    }
    // current read: carried base dirs + merged append set
    assert(Snapshots.read(spark, dir, "t").select("x", "b").as[(Long, Int)]
      .collect().toSeq.sorted == inputs.flatten.sorted)
    deleteRec(Path.of(dir))
  }

  test("an empty publish reads back empty, typed by its recorded schema") {
    val dir = tmpDir("empty")
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      Seq((1L, true), (2L, false)).toDF("x", "q")
    }
    // the extract of an empty ingest: no row, whatever Spark writes
    Snapshots.stage(spark, dir, "t", "p2", resume = false) {
      spark.emptyDataset[(Long, Boolean)].toDF("x", "q")
    }
    assert(Snapshots.readManifest(dir, "t").rows == 0L)
    val v1 = Snapshots.readVersion(spark, dir, "t", 1)
    val empty = Snapshots.read(spark, dir, "t")
    assert(empty.isEmpty && empty.schema == v1.schema)
    assert(rowsOf(v1.unionByName(empty)) == rowsOf(v1))
    deleteRec(Path.of(dir))
  }

  test("derived manifest schema == real file inference (nested, non-nullable source)") {
    val dir = tmpDir("dschema")
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      // typed source → non-nullable longs, nested struct + array:
      // the derived read-back schema must match inference exactly
      // (everything asNullable'd at the relation level)
      Seq((1L, (2L, "a"), Seq(1L, 2L), 0), (3L, (4L, "b"), Seq(3L), 1))
        .toDF("x", "st", "arr", "k")
    }
    val m = Snapshots.readManifest(dir, "t")
    val recorded = org.apache.spark.sql.types.DataType
      .fromJson(m.dataSchema)
    val file = m.fileRows.keys.head
    val inferred = spark.read
      .parquet(s"${Snapshots.stageDir(dir, "t")}/snap=1/$file").schema
    assert(recorded == inferred)
    val planned = Snapshots.read(spark, dir, "t")
    assert(planned.schema == listed(dir).schema)
    assert(rowsOf(planned) == rowsOf(listed(dir)))
    deleteRec(Path.of(dir))
  }

  test("non-exact round-trip type (timestamp_ntz) falls back to footer-read schema capture") {
    val dir = tmpDir("ntz")
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      Seq((1L, "2024-01-02T03:04:05"), (2L, "2024-02-03T04:05:06"))
        .toDF("x", "s")
        .withColumn("ts", org.apache.spark.sql.functions
          .to_timestamp_ntz($"s")).drop("s")
    }
    val m = Snapshots.readManifest(dir, "t")
    val recorded = org.apache.spark.sql.types.DataType
      .fromJson(m.dataSchema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(recorded("ts").dataType.typeName == "timestamp_ntz")
    val planned = Snapshots.read(spark, dir, "t")
    assert(planned.schema == listed(dir).schema)
    assert(rowsOf(planned) == rowsOf(listed(dir)))
    deleteRec(Path.of(dir))
  }

  private def readSet(dir: String): Set[(Long, Int)] =
    Snapshots.read(spark, dir, "t").select("x", "b")
      .as[(Long, Int)].collect().toSet

  private def readSeq(dir: String): Seq[(Long, Int)] =
    Snapshots.read(spark, dir, "t").select("x", "b")
      .as[(Long, Int)].collect().toSeq.sorted

  private def appendDf(rows: Seq[(Long, Int)]): DataFrame =
    if (rows.isEmpty) spark.emptyDataset[(Long, Int)].toDF("x", "b")
    else rows.toDF("x", "b")

  test("tiered appends: a large prior set is CARRIED by reference, rows exact") {
    val dir = tmpDir("tier")
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      Seq((1L, 0), (2L, 1), (3L, 2)).toDF("x", "b")
    }
    // v2: append TEN rows spanning b=1 / b=2
    val ten = (100L to 104L).map((_, 1)) ++ (200L to 204L).map((_, 2))
    Snapshots.stageAppend(spark, dir, "t", "p2", Seq("b"))(appendDf(ten))
    // v3: tiny append. The ten-row prior set must NOT be
    // re-read/rewritten: it stays carried by reference
    Snapshots.stageAppend(spark, dir, "t", "p3", Seq("b")) {
      Seq((300L, 1)).toDF("x", "b")
    }
    val m3 = Snapshots.readManifest(dir, "t")
    val appendCarried = m3.baseFiles.get.keys
      .filter(_.contains("/append/")).toVector
    assert(appendCarried.nonEmpty &&
      appendCarried.forall(_.startsWith("snap=2/append/d")),
      s"the v2 append set must be carried by reference: $appendCarried")
    val expect3 = Set((1L, 0), (2L, 1), (3L, 2)) ++ ten.toSet + ((300L, 1))
    assert(readSet(dir) == expect3)
    assert(m3.rows == expect3.size.toLong, s"manifest rows: ${m3.rows}")
    assert(Snapshots.appendStats(m3) == (11L, 2))
    // time travel: v2 still sees base + ten
    assert(Snapshots.readVersion(spark, dir, "t", 2).count() == 13)
    // v4: a twelve-row delta is a set of its own; v3's one-row set
    // (the previous delta, which carries the cascade) cannot absorb
    // the ten rows, so both prior sets stay carried
    val twelve = (400L until 412L).map((_, 0))
    Snapshots.stageAppend(spark, dir, "t", "p4", Seq("b"))(appendDf(twelve))
    val m4 = Snapshots.readManifest(dir, "t")
    assert(m4.metrics("absorbedSets") == "0")
    assert(Snapshots.appendStats(m4) == (23L, 3))
    val expect4 = expect3 ++ twelve.toSet
    assert(readSet(dir) == expect4 && m4.rows == expect4.size.toLong)
    // v5: v4's twelve-row set absorbs both older sets (1 ≤ 12, then
    // 10 ≤ 13); their files leave the manifest, v5's delta stands
    Snapshots.stageAppend(spark, dir, "t", "p5", Seq("b")) {
      Seq((500L, 2)).toDF("x", "b")
    }
    val m5 = Snapshots.readManifest(dir, "t")
    assert(!m5.baseFiles.get.keys.exists(_.contains("/append/")))
    assert(m5.metrics("absorbedSets") == "3")
    assert(Snapshots.appendStats(m5) == (24L, 2))
    val expect5 = expect4 + ((500L, 2))
    assert(readSet(dir) == expect5 && m5.rows == expect5.size.toLong)
    deleteRec(Path.of(dir))
  }

  test("tiered appends == the union of the appended inputs (content and rows)") {
    val dir = tmpDir("union")
    val base = (0L until 12L).map(i => (i, (i % 3).toInt))
    val appends = Seq(
      (200L to 206L).map((_, 1)) :+ ((210L, 2)),
      Seq((301L, 2)),
      Nil,
      Seq((100L, 0), (101L, 1), (102L, 2)),
      // duplicates of stored rows stay duplicates: appends never dedup
      Seq((0L, 0), (301L, 2)))
    Snapshots.stage(spark, dir, "t", "p1", resume = false)(appendDf(base))
    appends.zipWithIndex.foreach { case (app, i) =>
      Snapshots.stageAppend(spark, dir, "t", s"p${i + 2}", Seq("b"))(
        appendDf(app))
    }
    val expected = (base ++ appends.flatten).sorted
    assert(readSeq(dir) == expected, "appends changed the table content")
    assert(Snapshots.readManifest(dir, "t").rows == expected.size.toLong)
    deleteRec(Path.of(dir))
  }

  test("binary-counter cascade keeps the live append-set count logarithmic") {
    val dir = tmpDir("cascade")
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      Seq((1L, 0), (2L, 1)).toDF("x", "b")
    }
    val k = 8
    (1 to k).foreach { i =>
      Snapshots.stageAppend(spark, dir, "t", s"p$i", Seq("b")) {
        Seq((1000L + i, 1), (2000L + i, 1)).toDF("x", "b")
      }
    }
    val m = Snapshots.readManifest(dir, "t")
    val sets = m.baseFiles.get.keys.filter(_.contains("/append/"))
      .map(_.split("/part").head).toSet.size +
      m.fileRows.keys.count(_.startsWith("append/")).min(1)
    val bound = (math.log(k * 2.0) / math.log(2)).toInt + 1
    assert(sets <= bound, s"live append sets $sets > log bound $bound")
    assert(m.metrics("appendSets").toInt == sets)
    assert(Snapshots.appendStats(m) == (2L * k, sets))
    // every appended row is still visible exactly once
    assert(Snapshots.read(spark, dir, "t").count() == 2L + 2 * k)
    assert(m.rows == 2L + 2 * k)
    deleteRec(Path.of(dir))
  }

  test("tiered appends == union of SEEDED RANDOM appends (content + exact rows)") {
    // randomized twin of the hand-built chains above: random appends
    // per step (sizes 0..15, so the cascade both carries and absorbs),
    // fixed seed for driver determinism. Multiset equality via sorted
    // sequences (a Set would mask dropped duplicates).
    val rnd = new scala.util.Random(20260818L)
    val base = Seq((1L, 0), (2L, 1), (3L, 2), (4L, 3))
    (1 to 5).foreach { trial =>
      val steps = Seq.fill(3 + rnd.nextInt(4))(
        Seq.fill(rnd.nextInt(16))((1000L + rnd.nextInt(9000), rnd.nextInt(4))))
      val dir = tmpDir(s"rand$trial")
      try {
        Snapshots.stage(spark, dir, "t", "p0", resume = false)(appendDf(base))
        steps.zipWithIndex.foreach { case (app, i) =>
          Snapshots.stageAppend(spark, dir, "t", s"p${i + 1}", Seq("b"))(
            appendDf(app))
        }
        val expected = (base ++ steps.flatten).sorted
        assert(readSeq(dir) == expected, s"trial $trial diverged ($steps)")
        val m = Snapshots.readManifest(dir, "t")
        assert(m.rows == expected.size.toLong, s"trial $trial rows: ${m.rows}")
        assert(Snapshots.appendStats(m)._1 == steps.flatten.size.toLong)
      } finally deleteRec(Path.of(dir))
    }
  }

  test("append files are sized by AQE: one for a tiny append, several past the advisory size") {
    val dir = tmpDir("sizing")
    val base = Seq((1L, 0), (2L, 1))
    Snapshots.stage(spark, dir, "t", "p1", resume = false)(appendDf(base))
    def newFiles: Int =
      Snapshots.readManifest(dir, "t").metrics("newFiles").toInt
    def absorbed: String =
      Snapshots.readManifest(dir, "t").metrics("absorbedSets")
    val tiny = Seq((10L, 0), (11L, 1), (12L, 2))
    Snapshots.stageAppend(spark, dir, "t", "p2", Seq("b"))(appendDf(tiny))
    assert(newFiles == 1 && absorbed == "0")
    // an equal delta stands beside it (the cascade runs one append
    // late)
    val tiny2 = Seq((20L, 0), (21L, 1), (22L, 2))
    Snapshots.stageAppend(spark, dir, "t", "p3", Seq("b"))(appendDf(tiny2))
    assert(newFiles == 1 && absorbed == "0")
    // past the advisory size, a larger delta spans files, and the
    // cascade's merge of the two tiny sets is published as one file
    val big = (1000L until 21000L).map(i => (i, (i % 4).toInt))
    withConf(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k") {
      Snapshots.stageAppend(spark, dir, "t", "p4", Seq("b"))(appendDf(big))
    }
    val m4 = Snapshots.readManifest(dir, "t")
    assert(m4.fileRows.keys.count(_.startsWith("append/m/")) == 1)
    assert(m4.fileRows.keys.count(_.startsWith("append/d/")) > 1 &&
      absorbed == "2", s"newFiles = $newFiles")
    val all = base ++ tiny ++ tiny2 ++ big
    assert(readSeq(dir) == all.sorted)
    assert(Snapshots.readManifest(dir, "t").rows == all.size.toLong)
    deleteRec(Path.of(dir))
  }

  test("compact folds buckets, patches and tombstoned appends into a full snapshot; old versions expire") {
    val dir = tmpDir("compact")
    Snapshots.stage(spark, dir, "t", "p1", resume = false) {
      Seq((1L, 0), (2L, 1), (3L, 2)).toDF("x", "b")
    }
    // two live append sets: v3 carries v2's seven rows beside its one
    Snapshots.stageAppend(spark, dir, "t", "p2", Seq("b")) {
      ((100L to 105L).map((_, 1)) :+ ((200L, 2))).toDF("x", "b")
    }
    Snapshots.stageAppend(spark, dir, "t", "p3", Seq("b")) {
      Seq((300L, 1)).toDF("x", "b")
    }
    val before = readSet(dir)
    val mAppended = Snapshots.readManifest(dir, "t")
    assert(Snapshots.appendStats(mAppended) == (8L, 2))
    // pre-compact: carried files pin old versions against expiry
    intercept[IllegalArgumentException](Snapshots.expire(dir, "t", 1))

    Snapshots.compact(spark, dir, "t", "maint")()
    val mC = Snapshots.readManifest(dir, "t")
    assert(mC.metrics.get("compacted").contains("true"))
    assert(mC.baseFiles.forall(_.isEmpty) &&
      Snapshots.appendStats(mC) == (0L, 0))
    assert(readSet(dir) == before, "compaction changed the content")
    assert(mC.rows == before.size.toLong)
    // the fold wrote plain files: no manifest path has a k=v segment
    assert(!mC.fileRows.keys.exists(_.split('/').init.exists(_.contains("="))))
    // every pre-compact version is now expirable (newest-first: the
    // guard also protects files carried by EXPIRED-LATER manifests)
    Seq(3, 2, 1).foreach(Snapshots.expire(dir, "t", _))
    assert(readSet(dir) == before)
    deleteRec(Path.of(dir))
  }
}
