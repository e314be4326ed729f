package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Iceberg-emulation snapshot store (SURVEY.md §7.4: no iceberg jar in
  * /opt/spark/jars, so snapshots/manifests/atomic publish are
  * hand-rolled but minimal).
  *
  * Layout: <runDir>/stage=<name>/snap=<v>/  parquet files, plus
  * _MANIFEST.v<v>.json per version and the live pointer _MANIFEST.json.
  * One layout for every stage: plain files, no partition directories.
  * A stage clusters its rows inside the files instead (its caller's
  * sortWithinPartitions, an append's `clusterBy`), so row-group stats
  * skip what a directory would have pruned, and the file count follows
  * the data, not a column's value count. Every manifest is stamped
  * with [[FormatVersion]], and every read is planned from the manifest
  * alone.
  *
  * Publish protocol: data first, manifest LAST via write-to-temp +
  * atomic rename. A stage directory without _MANIFEST.json is
  * incomplete and gets re-run — this is exactly the reference's
  * de-facto checkpoint semantics (each completed document is already
  * on disk, /root/reference/python.py:733-740) lifted from per-file to
  * per-stage granularity, which is what makes `resume ≡ fresh run`
  * testable (FIXTURES.md §5).
  *
  * The manifest carries per-output-file row counts (per-partition
  * lineage) plus caller metrics — the analog of the reference's
  * ProcessingTimer phases and output metadata dict
  * (/root/reference/app.py:103-161).
  */
object Snapshots {

  final case class Manifest(
      // on-disk snapshot format (see [[FormatVersion]]); a manifest
      // with any other stamp, or none, is refused on read
      formatVersion: Int,
      runId: String,
      stage: String,
      rows: Long,
      fileRows: Map[String, Long],
      wallMs: Long,
      metrics: Map[String, String],
      // snapshot version (Iceberg-style time travel): this version's own
      // files live under snap=<version>/
      version: Int,
      // APPEND snapshots (stageAppend): files CARRIED from earlier
      // snapshots, keyed by stage-relative path (snap=<w>/...). The
      // effective table = these + this version's own fileRows; `rows`
      // counts both. None on full snapshots.
      baseFiles: Option[Map[String, Long]] = None,
      // ----- scan planning: every read is planned from these ---------
      // byte sizes keyed like fileRows (always set; an Option so that
      // existing readers of the field keep compiling) and like
      // baseFiles (set with it)
      fileBytes: Option[Map[String, Long]],
      baseFileBytes: Option[Map[String, Long]] = None,
      // StructType.json of the full snapshot's files and, on append
      // snapshots, of this version's append files
      dataSchema: String,
      appendSchema: Option[String] = None
  )

  /** The on-disk snapshot format this code writes and reads, stamped
    * into every manifest. One stamp covers every stage: bump it
    * whenever any stage's on-disk meaning changes (a layout, a key
    * scheme, a column's meaning, a manifest field). Readers refuse
    * every other stamp, so a run dir is never misread by code of
    * another format. Format 1 is the first stamped one; run dirs
    * written before it (no stamp) are refused too. Format 2 stamps
    * every canon log with the extract version its graph covers (the
    * commit record of Pipeline's commit protocol). Format 3 publishes
    * every slice a pinned ingest adds to a lineage stage (entities,
    * link_edges, ep_shingles, ep_keys) as an append snapshot, so a
    * stage's live manifest is its whole table. Format 4 makes
    * ep_shingles a stage of every graph, published by the build
    * between entities and link_edges, so a pin no longer writes it.
    * Format 5 appends every ingest's extract slice too (a format-4
    * ingested dir's live extract is only its last slice). Format 6
    * drops partition directories from every stage: extract loses its
    * `q` column, and assign holds only the non-identity canonical map
    * (a format-5 assign is every entity, split by `ident`). Format 7
    * stores each fuzzy form's shingle set in a `shingles` column of its
    * entities row and deletes the ep_shingles stage.
    */
  val FormatVersion = 7

  private val ManifestName = "_MANIFEST.json"

  /** Stage parquet codec: lz4 measurably beats snappy on encode CPU
    * for these string-heavy triple tables (~30% less write wall at
    * equal size in a codec write A/B) — and stage files are only ever
    * read back by this engine, so cross-tool codec compatibility is
    * not a concern.
    */
  val StageCompression = "lz4"

  def stageDir(runDir: String, stage: String): String =
    s"$runDir/stage=$stage"

  /** Data directory of a specific snapshot version. */
  def snapshotDir(runDir: String, stage: String, version: Int): String =
    s"${stageDir(runDir, stage)}/snap=$version"

  def isComplete(runDir: String, stage: String): Boolean =
    Files.exists(Paths.get(stageDir(runDir, stage), ManifestName))

  /** Current snapshot of a stage (the one the live manifest points at). */
  def read(spark: SparkSession, runDir: String, stage: String): DataFrame =
    assemble(spark, runDir, stage, readManifest(runDir, stage))

  /** TIME TRAVEL: read a stage as of snapshot `version`. Every publish
    * keeps its data files under snap=<v>/ and its manifest as
    * _MANIFEST.v<v>.json (the Iceberg snapshot-log shape), so any
    * historical version remains queryable until `expire` removes it.
    */
  def readVersion(spark: SparkSession, runDir: String, stage: String,
                  version: Int): DataFrame = {
    // verifies the manifest exists (a snapshot without one was never
    // published and must not be readable)
    val m = readManifestVersion(runDir, stage, version)
    assemble(spark, runDir, stage, m)
  }

  /** The snapshot a manifest describes, planned from the manifest
    * alone: one [[ManifestFileIndex]] per read root, zero filesystem
    * listing (see that class for why). A FULL snapshot is one root; an
    * APPEND snapshot (baseFiles non-empty) adds the carried files of
    * earlier snapshots — one root per source snapshot and append set,
    * each typed by the schemas its own publisher recorded (the Iceberg
    * manifest-list read shape). A publish that wrote no file (a
    * write of no rows may plan no write task) reads as an empty frame
    * of its recorded schema.
    */
  private def assemble(spark: SparkSession, runDir: String, stage: String,
                       m: Manifest, only: Option[String] = None
                      ): DataFrame = IOStat.timed("snap.assemble") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.StructType
    val sd = stageDir(runDir, stage)
    val byRoot = effectiveBytes(m).toSeq.groupBy { case (p, _) => rootOf(p) }
      .filter { case (r, _) => only.forall(_ == r) }
    val roots =
      if (byRoot.isEmpty) Seq(only.getOrElse(s"snap=${m.version}") -> Nil)
      else byRoot.toSeq.sortBy(_._1)
    roots.map { case (r, fs) =>
      val w = r.split('/').head.stripPrefix("snap=").toInt
      val rm = if (w == m.version) m else manifestAt(runDir, stage, w)
      val schema = parseStruct(
        if (isAppend(r)) rm.appendSchema.get else rm.dataSchema)
      val rel = fs.map { case (p, b) => (p.stripPrefix(r + "/"), b) }
      val idx = new ManifestFileIndex(new HPath(s"$sd/$r"), rel)
      spark.baseRelationToDataFrame(HadoopFsRelation(idx, StructType(Nil),
        schema, None, new ParquetFileFormat, Map.empty[String, String])(spark))
    }.reduce(_ unionByName _)
  }

  /** Read root of a stage-relative file path: the file's directory
    * (snap=<w>, or an append set's snap=<w>/append/d or append/m).
    */
  private def rootOf(p: String): String = p.split('/').init.mkString("/")

  private def parseStruct(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Every file (stage-relative) a manifest's snapshot is made of. */
  private def effectiveFiles(m: Manifest): Map[String, Long] =
    m.fileRows.map { case (k, n) => s"snap=${m.version}/$k" -> n } ++
      m.baseFiles.getOrElse(Map.empty)

  /** Byte sizes of a manifest's effective files, keyed like
    * [[effectiveFiles]].
    */
  private def effectiveBytes(m: Manifest): Map[String, Long] =
    m.fileBytes.get.map { case (k, b) => s"snap=${m.version}/$k" -> b } ++
      m.baseFileBytes.getOrElse(Map.empty)

  /** All PUBLISHED versions of a stage, ascending: those the live
    * pointer (_MANIFEST.json, always written LAST) has reached. A
    * crashed publish's newer manifest was never visible to a reader and
    * stays invisible here too, until the retry reuses its number.
    */
  def versions(runDir: String, stage: String): Seq[Int] = {
    val live = liveVersion(runDir, stage)
    manifestVersions(runDir, stage).filter(_ <= live)
  }

  /** Version the live pointer references (0 = none published). */
  private def liveVersion(runDir: String, stage: String): Int =
    if (isComplete(runDir, stage)) readManifest(runDir, stage).version
    else 0

  /** Every versioned manifest ON DISK, published or orphaned. */
  private def manifestVersions(runDir: String, stage: String): Seq[Int] = {
    val dir = Paths.get(stageDir(runDir, stage))
    if (!Files.exists(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScalaIterator()
      .map(_.getFileName.toString)
      .collect { case VersionedManifestRe(v) => v.toInt }
      .toVector.sorted
    finally s.close()
  }

  /** Drop the data and manifest of an old snapshot (Iceberg
    * expire_snapshots analog). Refuses to expire the current version.
    */
  def expire(runDir: String, stage: String, version: Int): Unit = {
    val live = readManifest(runDir, stage).version
    require(live != version,
      s"cannot expire the current snapshot v$version of $stage")
    // append snapshots CARRY files of earlier snapshots: deleting a
    // snapshot some published append still references would corrupt
    // that (readable, possibly live) version. Only a later one can.
    val prefix = s"snap=$version/"
    manifestVersions(runDir, stage).filter(v => v > version && v <= live)
      .foreach { v =>
        require(!manifestAt(runDir, stage, v).baseFiles
          .exists(_.keys.exists(_.startsWith(prefix))),
          s"cannot expire v$version of $stage: append snapshot v$v still " +
            s"carries its files (expire v$v first)")
      }
    deleteDir(snapshotDir(runDir, stage, version))
    Files.deleteIfExists(
      Paths.get(stageDir(runDir, stage), versionedManifestName(version)))
  }

  /** ROLLBACK (the Iceberg rollback_to_snapshot shape): when the live
    * snapshot of `stage` was written by `runId`, or there is none,
    * re-point the live pointer to the newest version on disk written by
    * another runId, or remove the pointer when no such version exists.
    * The versions above the new pointer become orphans, invisible to
    * every reader, and the next publish deletes them
    * ([[prepareNextVersion]]). A live snapshot of another runId is left
    * as it is.
    */
  def rollback(runDir: String, stage: String, runId: String): Unit = {
    val live = liveVersion(runDir, stage)
    if (live > 0 && readManifest(runDir, stage).runId != runId) return
    val sd = stageDir(runDir, stage)
    manifestVersions(runDir, stage).filter(v => live == 0 || v < live)
      .reverseIterator.map(manifestAt(runDir, stage, _))
      .find(_.runId != runId) match {
      case Some(m) => writeManifest(sd, ManifestName, m)
      case None    => Files.deleteIfExists(Paths.get(sd, ManifestName))
    }
  }

  /** Recursive delete (no-op when absent). */
  private[graft] def deleteDir(path: String): Unit = {
    val dir = Paths.get(path)
    if (Files.exists(dir)) {
      val w = Files.walk(dir)
      try w.iterator().asScalaIterator().toVector.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally w.close()
    }
  }

  private val VersionedManifestRe = """_MANIFEST\.v(\d+)\.json""".r
  private def versionedManifestName(v: Int) = s"_MANIFEST.v$v.json"

  def readManifest(runDir: String, stage: String): Manifest =
    parseManifest(Paths.get(stageDir(runDir, stage), ManifestName))

  def readManifestVersion(runDir: String, stage: String,
                          version: Int): Manifest = {
    // refuse orphans of a crashed publish (manifest on disk but the
    // live pointer never reached it): unpublished data is unreadable
    require(version <= liveVersion(runDir, stage),
      s"snapshot v$version of $stage was never published")
    manifestAt(runDir, stage, version)
  }

  /** The manifest of `v`, which the caller has resolved as published. */
  private def manifestAt(runDir: String, stage: String, v: Int): Manifest =
    parseManifest(Paths.get(stageDir(runDir, stage), versionedManifestName(v)))

  /** Parses a manifest, refusing any whose [[FormatVersion]] stamp is
    * absent, older or newer: such a run dir was written by code with
    * another on-disk meaning, and no reader here may guess at it.
    */
  private def parseManifest(p: Path): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val json = JsonMethods.parse(Files.readString(p))
    val found = json \ "formatVersion" match {
      case JInt(v) => v.toString
      case _       => "none (written before format stamps)"
    }
    require(found == FormatVersion.toString,
      s"$p has snapshot format $found, but this reader needs format " +
        s"$FormatVersion. Rebuild into a fresh runDir (for a KG run: " +
        "Pipeline.run, then pinEpoch before further pinned ingests).")
    json.extract[Manifest]
  }

  /** Compute-or-resume: if the stage is complete, read it back;
    * otherwise evaluate `compute`, write a NEW SNAPSHOT VERSION, and
    * publish its manifest. Returns the stage as a (re-read) DataFrame
    * so downstream stages always consume the durable snapshot, never
    * a live lineage.
    *
    * Versioning (Iceberg snapshot emulation): data lands under
    * snap=<v>/, the versioned manifest _MANIFEST.v<v>.json is written
    * next, and the live pointer _MANIFEST.json is renamed into place
    * LAST — readers either see the previous complete snapshot or the
    * new one, never a partial. A publish that crashed between the
    * versioned manifest and the live pointer left an ORPHAN (manifest
    * + data, never visible to any reader); the next compute DELETES
    * every orphan above the live pointer and republishes as
    * live + 1 — so a crashed publish is truly invisible: versions()
    * never lists it, and the retry cannot double-count it next to its
    * own replacement. Historical published versions stay queryable
    * via readVersion until expire()d.
    */
  def stage(spark: SparkSession, runDir: String, stageName: String,
            runId: String, resume: Boolean = true,
            metrics: => Map[String, String] = Map.empty)
           (compute: => DataFrame): DataFrame = {
    if (resume && isComplete(runDir, stageName))
      return read(spark, runDir, stageName)

    val version = prepareNextVersion(runDir, stageName)
    val dir = snapshotDir(runDir, stageName, version)
    val t0 = System.nanoTime()
    val df = compute
    df.write.mode(SaveMode.Overwrite)
      .option("compression", StageCompression)
      .parquet(dir)
    val wallMs = (System.nanoTime() - t0) / 1000000L

    // per-partition lineage: row count (and byte size, for planned
    // reads) per produced file, read from the parquet FOOTERS on the
    // driver (no Spark job, no data re-scan — the Iceberg-manifest
    // approach), keyed by the snapshot-relative path
    val perFile = footerStats(dir)
    val rows = perFile.values.map(_._1).sum

    val m = Manifest(FormatVersion, runId, stageName, rows,
      perFile.map { case (k, (r, _)) => k -> r }, wallMs, metrics,
      version = version,
      fileBytes = Some(perFile.map { case (k, (_, b)) => k -> b }),
      dataSchema = readBackSchema(spark, df, dir, perFile.keys).json)
    val sd = stageDir(runDir, stageName)
    writeManifest(sd, versionedManifestName(version), m)
    writeManifest(sd, ManifestName, m)
    IOStat.timed("snap.reread")(read(spark, runDir, stageName))
  }

  /** Orphan cleanup + next version number (shared publish prelude): a
    * publish that crashed between the versioned manifest and the live
    * pointer left invisible data — delete it and reuse its number.
    */
  private def prepareNextVersion(runDir: String, stageName: String): Int = {
    val live = liveVersion(runDir, stageName)
    manifestVersions(runDir, stageName).filter(_ > live).foreach { v =>
      Files.deleteIfExists(
        Paths.get(stageDir(runDir, stageName), versionedManifestName(v)))
      deleteDir(snapshotDir(runDir, stageName, v))
    }
    live + 1
  }

  /** APPEND publish: a new snapshot version whose data =
    *   - every file of the current snapshot, CARRIED by reference in
    *     the manifest, never copied;
    *   - snap=<v+1>/append/d — `append`'s rows, in files sized by
    *     their bytes ([[clustered]]), so a delta costs O(1) files per
    *     ingest. The Iceberg analog: appended data files in a new
    *     snapshot.
    * Returns the appended rows re-read from append/d, as [[stage]]
    * returns its snapshot: a caller consumes the durable delta, never
    * a live lineage.
    *
    * A binary-counter cascade keeps the live append-set count
    * logarithmic. It runs one append late, so that append/d stays the
    * delta's own set: the previous append's delta set carries, and
    * absorbs every other prior set no larger than the accumulated
    * carry, smallest first; when it absorbs any, they are physically
    * merged into snap=<v+1>/append/m. The sets other than the newest
    * delta are then exactly those of a counter over the earlier
    * deltas. Per-ingest append cost is O(delta) amortized
    * ×log(total/delta); re-reading every prior set per ingest instead
    * would grow without bound under steady ingestion. Append mass
    * itself is bounded by the compaction trigger ([[compact]]).
    *
    * The delta and every cascade merge are written [[clustered]] by
    * `clusterBy` (the columns the stage's full snapshots are clustered
    * by), so AQE sizes their files from the shuffle bytes it measures.
    *
    * Same publish protocol as [[stage]] (data → versioned manifest →
    * live pointer last), so a crashed append is invisible and the
    * retry republishes under the same version number.
    */
  def stageAppend(spark: SparkSession, runDir: String, stageName: String,
                  runId: String, clusterBy: Seq[String],
                  metrics: => Map[String, String] = Map.empty)
                 (append: => DataFrame): DataFrame = {
    val base = readManifest(runDir, stageName)
    val version = prepareNextVersion(runDir, stageName)
    val dir = snapshotDir(runDir, stageName, version)
    val sd = stageDir(runDir, stageName)
    val baseEff = effectiveFiles(base)

    // prior append sets, one per read root: (root, files, rows)
    val priorSets = baseEff.filter { case (p, _) => isAppend(p) }
      .groupBy { case (p, _) => rootOf(p) }.toVector.sortBy(_._1)
      .map { case (r, fs) => (r, fs.keys.toVector.sorted, fs.values.sum) }

    val t0 = System.nanoTime()
    val adf = append
    clustered(adf, clusterBy).write.mode(SaveMode.Overwrite)
      .option("compression", StageCompression)
      .parquet(s"$dir/append/d")
    // cascade: the previous delta's set absorbs the other prior sets
    // smallest-first while they fit in the carry
    val (seed, others) =
      priorSets.partition(_._1 == s"snap=${base.version}/append/d")
    val smallestFirst = others.sortBy(_._3)
    // the carry before each set: the seed's rows plus every smaller set's
    val carries = smallestFirst.scanLeft(seed.map(_._3).sum)(_ + _._3)
    val absorbed = smallestFirst.zip(carries)
      .takeWhile { case ((_, _, n), c) => n <= c }.map(_._1)
    val merged =
      if (seed.isEmpty || absorbed.isEmpty) Vector.empty else seed ++ absorbed
    if (merged.nonEmpty)
      clustered(spark.read.parquet(merged.flatMap(_._2).map(f => s"$sd/$f"): _*),
        clusterBy).write.mode(SaveMode.Overwrite)
        .option("compression", StageCompression)
        .parquet(s"$dir/append/m")
    val wallMs = (System.nanoTime() - t0) / 1000000L

    val mergedRoots = merged.map(_._1).toSet
    val carried = baseEff.filter { case (path, _) =>
      !isAppend(path) || !mergedRoots.contains(rootOf(path))
    }
    val tF0 = System.nanoTime()
    val perFile = footerStats(dir)
    val footerSec = (System.nanoTime() - tF0) / 1e9
    val newSets = perFile.keys.map(k => rootOf(s"snap=$version/$k")).toSet
    val m = Manifest(FormatVersion, runId, stageName,
      rows = perFile.values.map(_._1).sum + carried.values.sum,
      fileRows = perFile.map { case (k, (r, _)) => k -> r }, wallMs = wallMs,
      metrics = metrics ++ Map(
        "footerSec" -> f"$footerSec%.2f",
        "newFiles" -> perFile.size.toString,
        "appendSets" ->
          (priorSets.size - merged.size + newSets.size).toString,
        "absorbedSets" -> merged.size.toString),
      version = version,
      baseFiles = Some(carried),
      fileBytes = Some(perFile.map { case (k, (_, b)) => k -> b }),
      baseFileBytes = Some(effectiveBytes(base).filter { case (k, _) =>
        carried.contains(k) }),
      // the full snapshot's files are all carried: their schema is the
      // base's
      dataSchema = base.dataSchema,
      appendSchema = Some(readBackSchema(spark, adf, dir, perFile.keys).json))
    writeManifest(sd, versionedManifestName(version), m)
    writeManifest(sd, ManifestName, m)
    IOStat.timed("snap.reread")(assemble(spark, runDir, stageName, m,
      only = Some(s"snap=$version/append/d")))
  }

  /** Rows of the delta an append snapshot published (its own append/d
    * set); a full snapshot's rows.
    */
  def deltaRows(m: Manifest): Long =
    if (m.baseFiles.isEmpty) m.rows
    else m.fileRows.collect { case (f, n) if f.startsWith("append/d/") => n }.sum

  /** `df` REBALANCEd by `by` — AQE coalesces or splits the partitions
    * to `spark.sql.adaptive.advisoryPartitionSizeInBytes` of measured
    * shuffle bytes — and sorted by `by` within each. Rebalancing by
    * columns keeps each key's rows in their input order (a round-robin
    * rebalance would locally sort whole rows first), which is what
    * keeps an append as compressible as its input.
    */
  private[graft] def clustered(df: DataFrame, by: Seq[String]): DataFrame = {
    val cols = by.map(col)
    df.hint("rebalance", cols: _*).sortWithinPartitions(cols: _*)
  }

  /** A stage-relative file path or read root inside an append set. */
  private def isAppend(p: String): Boolean =
    p.split('/').contains("append")

  /** Append rows and live append-set count of a snapshot (the
    * compaction trigger's inputs).
    */
  def appendStats(m: Manifest): (Long, Int) = {
    val appended = effectiveFiles(m).filter { case (p, _) => isAppend(p) }
    (appended.values.sum, appended.keys.map(rootOf).toSet.size)
  }

  /** MAINTENANCE: fold the current snapshot — carried full-snapshot
    * files and every append set — into a fresh FULL version (the
    * Iceberg rewrite_data_files analog). Append mass and set count
    * reset to zero, carry chains break, and every older
    * version becomes expirable. `shape` lets the caller re-cluster
    * (sortWithinPartitions etc.) on the way through. Costs O(table) —
    * run it when appendStats crosses a threshold
    * (Pipeline.Config.compactAppendFrac), not per ingest.
    */
  def compact(spark: SparkSession, runDir: String, stageName: String,
              runId: String, metrics: Map[String, String] = Map.empty)
             (shape: DataFrame => DataFrame = identity): DataFrame = {
    val m = readManifest(runDir, stageName)
    val df = shape(assemble(spark, runDir, stageName, m))
    stage(spark, runDir, stageName, runId, resume = false,
      metrics = metrics + ("compacted" -> "true"))(df)
  }

  /** Footer-derived (row count, byte size) per *.parquet under `dir`,
    * keyed by dir-relative path — everything scan planning needs. A
    * zero-row file is deleted with its checksum sidecar, so no manifest
    * lists a file every read would open for nothing.
    *
    * Footers are opened on a bounded driver-side pool: the ~10 ms
    * per-open FS overhead is pure latency — serial reads cost seconds
    * per stage at hundreds of files.
    */
  def footerStats(dir: String): Map[String, (Long, Long)] =
    IOStat.timed("snap.footers") {
      import org.apache.hadoop.conf.Configuration
      import org.apache.hadoop.fs.{Path => HPath}
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val base = Paths.get(dir)
      val walk = Files.walk(base)
      val files =
        try walk.iterator().asScalaIterator()
          .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
          .toVector
        finally walk.close()
      val conf = new Configuration()
      // each open is ~10 ms of pure FS latency — pool it wide
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(48, files.size)))
      try {
        val futures = files.map { p =>
          pool.submit(new java.util.concurrent.Callable[Option[(String, (Long, Long))]] {
            def call(): Option[(String, (Long, Long))] = {
              val reader = ParquetFileReader.open(
                HadoopInputFile.fromPath(new HPath(p.toString), conf))
              val rows = try reader.getRecordCount finally reader.close()
              if (rows == 0L) Seq(p, p.resolveSibling(s".${p.getFileName}.crc"))
                .foreach(Files.deleteIfExists)
              Option.when(rows > 0L)(base.relativize(p).toString -> (rows, Files.size(p)))
            }
          })
        }
        futures.flatMap(_.get()).toMap
      } finally pool.shutdown()
    }

  /** Read-back schema of `df` as written to `dir`.
    * Derived from the FRAME, skipping the per-publish driver footer
    * read of a written file (~70 ms locally; an object-store GET
    * round-trip at real scale — pure serial driver latency on every
    * publish). Sound because Spark embeds the Catalyst schema in the
    * footer it writes and read-back is exactly that schema with
    * `asNullable` applied at the relation level (SnapshotPlanSpec pins
    * the equivalence against inference) — so for types whose parquet
    * round-trip is the identity, the written frame already KNOWS its
    * read-back schema. Types with lossy round-trips (char/varchar
    * annotations, UDTs, null type, timestamp_ntz under legacy confs)
    * take that footer read — the session's own inference on one
    * written file — instead; with no file written there is no row to
    * misread, and the frame's schema stands.
    */
  private def readBackSchema(spark: SparkSession, df: DataFrame,
                             dir: String, files: Iterable[String]
                            ): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def exact(dt: DataType): Boolean = dt match {
      case StringType | LongType | IntegerType | ShortType | ByteType |
           BooleanType | DoubleType | FloatType | BinaryType | DateType |
           TimestampType => true
      case _: DecimalType => true
      case a: ArrayType => exact(a.elementType)
      case m: MapType => exact(m.keyType) && exact(m.valueType)
      case s: StructType => s.fields.forall(f => exact(f.dataType))
      case _ => false
    }
    // relation-level asNullable, recursively (what read-back applies)
    def nullify(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, nullify(f.dataType), nullable = true,
          f.metadata)))
      case a: ArrayType => ArrayType(nullify(a.elementType),
        containsNull = true)
      case m: MapType => MapType(nullify(m.keyType), nullify(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    if (exact(df.schema) || files.isEmpty)
      nullify(df.schema).asInstanceOf[StructType]
    else IOStat.timed("snap.schemaCap")(
      spark.read.parquet(s"$dir/${files.min}").schema)
  }

  private implicit class IterAdapter[T](it: java.util.Iterator[T]) {
    def asScalaIterator(): Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  /** Single-file export — the reference's ZIP batch packaging analog
    * (/root/reference/app.py:513-526): one artifact for hand-off.
    * coalesce(1) is an explicit final-mile choice; never use it on a
    * table that should stay distributed.
    */
  def exportSingle(df: DataFrame, dir: String,
                   format: String = "csv"): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").format(format).save(dir)

  private def writeManifest(dir: String, name: String, m: Manifest): Unit = {
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val fmts: Formats = DefaultFormats
    writeAtomic(Paths.get(dir, name), Serialization.writePretty(m))
  }

  /** Writes `text` beside `p`, then renames it over `p` (atomic). */
  private[graft] def writeAtomic(p: Path, text: String): Unit = {
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, p,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
