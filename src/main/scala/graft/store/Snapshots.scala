package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Iceberg-emulation snapshot store (SURVEY.md §7.4: no iceberg jar in
  * /opt/spark/jars, so snapshots/manifests/atomic publish are
  * hand-rolled but minimal).
  *
  * Layout: <runDir>/stage=<name>/  parquet files + _MANIFEST.json
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
      runId: String,
      stage: String,
      rows: Long,
      fileRows: Map[String, Long],
      wallMs: Long,
      metrics: Map[String, String],
      // snapshot version (Iceberg-style time travel); None on
      // manifests written before versioning existed (data then lives
      // directly under the stage dir)
      version: Option[Int] = None,
      // APPEND snapshots (stageAppend): files CARRIED from earlier
      // snapshots, keyed by stage-relative path (snap=<w>/...). The
      // effective table = these + this version's own fileRows; `rows`
      // counts both. None/empty on full snapshots.
      baseFiles: Option[Map[String, Long]] = None,
      // ----- scan-planning info (manifest-planned reads, round 7) ----
      // byte sizes keyed like fileRows / baseFiles; StructType.json of
      // the main (partitioned) data files, of the unpartitioned append
      // files, and of the dir-encoded partition columns. All optional:
      // a manifest missing any piece a read needs falls back to the
      // directory-listing path (older manifests keep working).
      fileBytes: Option[Map[String, Long]] = None,
      baseFileBytes: Option[Map[String, Long]] = None,
      dataSchema: Option[String] = None,
      appendSchema: Option[String] = None,
      partSchema: Option[String] = None
  )

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

  private def dataDir(runDir: String, stage: String, m: Manifest): String =
    m.version match {
      case Some(v) => snapshotDir(runDir, stage, v)
      case None    => stageDir(runDir, stage) // pre-versioning layout
    }

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

  /** The snapshot a manifest describes. A FULL snapshot is one parquet
    * dir; an APPEND snapshot (baseFiles non-empty) assembles its own
    * files plus the carried files of earlier snapshots — grouped per source
    * snapshot so partition columns parse against each snapshot's own
    * basePath (the Iceberg manifest-list read shape).
    *
    * When the manifest carries scan-planning info (file bytes +
    * schemas — everything published since they were added), the read
    * is MANIFEST-PLANNED: a [[ManifestFileIndex]] per read root, zero
    * filesystem listing (see that class for why). Otherwise it falls
    * back to `spark.read.parquet` directory listing.
    */
  private def assemble(spark: SparkSession, runDir: String, stage: String,
                       m: Manifest): DataFrame = IOStat.timed("snap.assemble") {
    plannedRead(spark, runDir, stage, m).getOrElse {
      IOStat.timed("snap.assemble.listed") {
        val carried = m.baseFiles.getOrElse(Map.empty)
        if (carried.isEmpty) spark.read.parquet(dataDir(runDir, stage, m))
        else assembleCarried(spark, runDir, stage, m, carried)
      }
    }
  }

  /** Kill switch for manifest-planned reads (tests A/B the two paths;
    * production default is on).
    */
  private[graft] var manifestPlan: Boolean =
    sys.props.get("graft.snapshots.manifestPlan").forall(_.toBoolean)

  /** Read root of a stage-relative file path: snap=<w> plus any
    * non-partition subdirs (append/d, append/m). Partition columns parse
    * relative to the root, and a root with no k=v segments below it
    * reads as plain files whose partition columns ride as data
    * columns (the append set).
    */
  private def rootOf(p: String): String = {
    val dirs = p.split('/').init // drop the filename
    (dirs.head +: dirs.tail.takeWhile(s => !s.contains('=')))
      .mkString("/")
  }

  private def parseStruct(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def plannedRead(spark: SparkSession, runDir: String, stage: String,
                          m: Manifest): Option[DataFrame] = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.StructType
    if (!manifestPlan) return None
    val v = m.version.getOrElse(return None)
    val ownBytes = m.fileBytes.getOrElse(return None)
    val own = ownBytes.map { case (k, b) => s"snap=$v/$k" -> b }
    val carried = m.baseFiles.getOrElse(Map.empty)
    val carriedBytes: Map[String, Long] =
      if (carried.isEmpty) Map.empty
      else {
        val cb = m.baseFileBytes.getOrElse(return None)
        if (!carried.keys.forall(cb.contains)) return None
        cb.filter { case (k, _) => carried.contains(k) }
      }
    val all = own ++ carriedBytes
    if (all.isEmpty) return None
    val sd = stageDir(runDir, stage)
    val parts = all.toSeq.groupBy { case (p, _) => rootOf(p) }
      .toSeq.sortBy(_._1)
      .map { case (r, fs) =>
        val w = r.split('/').head.stripPrefix("snap=").toIntOption
          .getOrElse(return None)
        val rm = if (w == v) m else readManifestVersion(runDir, stage, w)
        val (dataJson, pSchema) =
          if (isAppend(r)) (rm.appendSchema, StructType(Nil))
          else (rm.dataSchema,
            parseStruct(rm.partSchema.getOrElse(return None)))
        val dSchema = parseStruct(dataJson.getOrElse(return None))
        val rel = fs.map { case (p, b) => (p.stripPrefix(r + "/"), b) }
        val idx = new ManifestFileIndex(spark, new HPath(s"$sd/$r"), rel,
          pSchema)
        spark.baseRelationToDataFrame(HadoopFsRelation(idx, pSchema,
          dSchema, None, new ParquetFileFormat,
          Map.empty[String, String])(spark))
      }
    Some(parts.reduce(_ unionByName _))
  }

  private def assembleCarried(spark: SparkSession, runDir: String,
                              stage: String, m: Manifest,
                              carried: Map[String, Long]): DataFrame = {
    val sd = stageDir(runDir, stage)
    val own = m.fileRows.keys.map(k => s"snap=${m.version.get}/$k")
    (own ++ carried.keys).toVector
      .groupBy(rootOf)
      .toSeq.sortBy(_._1)
      .map { case (r, paths) =>
        spark.read.option("basePath", s"$sd/$r")
          .parquet(paths.map(p => s"$sd/$p"): _*)
      }
      .reduce(_ unionByName _)
  }

  /** Every file (stage-relative) a manifest's snapshot is made of. */
  private def effectiveFiles(m: Manifest): Map[String, Long] = {
    val ownPrefix = m.version.map(v => s"snap=$v/").getOrElse("")
    m.fileRows.map { case (k, n) => s"$ownPrefix$k" -> n } ++
      m.baseFiles.getOrElse(Map.empty)
  }

  /** Byte sizes of a manifest's effective files (stage-relative), when
    * the manifest tracks them for both own and carried sets.
    */
  private def effectiveBytesOpt(m: Manifest): Option[Map[String, Long]] = {
    val ownPrefix = m.version.map(v => s"snap=$v/").getOrElse("")
    m.fileBytes.flatMap { fb =>
      val own = fb.map { case (k, b) => s"$ownPrefix$k" -> b }
      if (m.baseFiles.exists(_.nonEmpty)) m.baseFileBytes.map(own ++ _)
      else Some(own)
    }
  }

  /** All PUBLISHED versions of a stage, ascending. Published = the
    * live pointer (_MANIFEST.json, always written LAST) has reached
    * at least that version. A crashed publish leaves a versioned
    * manifest NEWER than the live pointer — that snapshot was never
    * visible to any reader and must stay invisible here too:
    * runIncremental unions versions() and resultFrom sums them, so an
    * orphan counted once would double-count its delta after the retry
    * republishes it under the same version number.
    */
  def versions(runDir: String, stage: String): Seq[Int] = {
    val live = liveVersion(runDir, stage)
    manifestVersions(runDir, stage).filter(_ <= live)
  }

  /** Version the live pointer references (0 = none published). */
  private def liveVersion(runDir: String, stage: String): Int =
    if (isComplete(runDir, stage))
      readManifest(runDir, stage).version.getOrElse(0)
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
    val current = readManifest(runDir, stage).version
    require(!current.contains(version),
      s"cannot expire the current snapshot v$version of $stage")
    // append snapshots CARRY files of earlier snapshots: deleting a
    // snapshot some published append still references would corrupt
    // that (readable, possibly live) version
    val prefix = s"snap=$version/"
    versions(runDir, stage).filter(_ != version).foreach { v =>
      val m = readManifestVersion(runDir, stage, v)
      require(!m.baseFiles.exists(_.keys.exists(_.startsWith(prefix))),
        s"cannot expire v$version of $stage: append snapshot v$v still " +
          s"carries its files (expire v$v first)")
    }
    deleteDir(snapshotDir(runDir, stage, version))
    Files.deleteIfExists(
      Paths.get(stageDir(runDir, stage), versionedManifestName(version)))
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
    parseManifest(
      Paths.get(stageDir(runDir, stage), versionedManifestName(version)))
  }

  /** Parses a manifest, refusing one written by the removed
    * copy-on-write tail: its `appendExcludes` tombstones hid rows of
    * carried append sets that a bucket rewrite had superseded, and a
    * reader that ignores them would resurface those stale rows.
    */
  private def parseManifest(p: Path): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val json = JsonMethods.parse(Files.readString(p))
    require(json \ "appendExcludes" match {
      case JNothing | JNull => true
      case _                => false
    }, s"$p was written by a copy-on-write ingest: its appendExcludes " +
      "tombstones are no longer supported, and reading past them would " +
      "resurface superseded rows. Rebuild the run: Pipeline.run into a " +
      "fresh runDir, then pinEpoch before further pinned ingests.")
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
            partitionBy: Seq[String] = Nil,
            metrics: => Map[String, String] = Map.empty)
           (compute: => DataFrame): DataFrame = {
    if (resume && isComplete(runDir, stageName))
      return read(spark, runDir, stageName)

    val version = prepareNextVersion(runDir, stageName)
    val dir = snapshotDir(runDir, stageName, version)
    val t0 = System.nanoTime()
    val df = compute
    val writer = df.write.mode(SaveMode.Overwrite)
      .option("compression", StageCompression)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dir)
    val wallMs = (System.nanoTime() - t0) / 1000000L

    // per-partition lineage: row count (and byte size, for planned
    // reads) per produced file, read from the parquet FOOTERS on the
    // driver (no Spark job, no data re-scan — the Iceberg-manifest
    // approach). Keyed by the snapshot-relative path: partitionBy
    // layouts reuse part-file basenames across partition dirs.
    val perFile = footerStats(dir)
    val rows = perFile.values.map(_._1).sum

    val m = Manifest(runId, stageName, rows,
      perFile.map { case (k, (r, _)) => k -> r }, wallMs, metrics,
      version = Some(version),
      fileBytes = Some(perFile.map { case (k, (_, b)) => k -> b }),
      dataSchema = derivedSchema(df, partitionBy)
        .orElse(perFile.keys.headOption.map(f =>
          fileSchema(spark, s"$dir/$f"))).map(_.json),
      partSchema = inferPartSchema(partitionBy, perFile.keys).map(_.json))
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
    *   - snap=<v+1>/append/d — `append`'s rows, UNPARTITIONED (the
    *     partition columns ride as data columns). Appends scatter
    *     across arbitrary partition values (new entities hash
    *     anywhere), and writing them through the partitioned layout
    *     would touch one dir+file per value per ingest (dynamic commit
    *     + footer + listing over ~B tiny files). As unpartitioned delta
    *     files they cost O(1) files per ingest; readers filter them by
    *     column stats instead of dir pruning, which is proportionate to
    *     their (delta) size. The Iceberg analog: appended data files in
    *     a new snapshot.
    *
    * A binary-counter cascade keeps the live append-set count
    * logarithmic: each append absorbs (physically merges, into
    * snap=<v+1>/append/m) every prior set no larger than the
    * accumulated carry, starting from the delta's size. Per-ingest
    * append cost is O(delta) amortized ×log(total/delta); re-reading
    * every prior set per ingest instead would grow without bound
    * under steady ingestion. Append mass itself is bounded by the
    * compaction trigger ([[compact]]).
    *
    * NOTE for callers: partition columns read back with
    * partition-inference types (a boolean dir value such as assign's
    * ident reads back as a string) — the append frame must carry
    * `partitionBy` with exactly those types.
    *
    * Same publish protocol as [[stage]] (data → versioned manifest →
    * live pointer last), so a crashed append is invisible and the
    * retry republishes under the same version number.
    */
  def stageAppend(spark: SparkSession, runDir: String, stageName: String,
                  runId: String, partitionBy: Seq[String],
                  metrics: => Map[String, String] = Map.empty)
                 (append: => DataFrame): Unit = {
    val base = readManifest(runDir, stageName)
    require(base.version.isDefined,
      s"stage $stageName predates snapshot versioning — cannot append")
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
    adf.write.mode(SaveMode.Overwrite)
      .option("compression", StageCompression)
      .parquet(s"$dir/append/d")
    val deltaStats = footerStats(s"$dir/append/d")
    // cascade: absorb sets smallest-first while they fit in the carry
    var carry = deltaStats.values.map(_._1).sum
    val keep = Vector.newBuilder[String]
    val absorb = Vector.newBuilder[Vector[String]]
    priorSets.sortBy(_._3).foreach { case (r, files, n) =>
      if (n <= carry) { carry += n; absorb += files }
      else keep += r
    }
    val absorbed = absorb.result()
    if (absorbed.nonEmpty) {
      val deltaBack =
        if (deltaStats.isEmpty) Vector.empty
        else Vector(spark.read.parquet(s"$dir/append/d"))
      val merged = (deltaBack ++ absorbed.map(fs =>
        spark.read.parquet(fs.map(f => s"$sd/$f"): _*)))
        .reduce(_ unionByName _)
      val nFiles = math.min(64L,
        math.max(1L, carry / MergedAppendRowsPerFile)).toInt
      val shaped0 = merged.repartition(nFiles)
      val shaped = if (partitionBy.nonEmpty)
        shaped0.sortWithinPartitions(partitionBy.map(col): _*)
      else shaped0
      shaped.write.mode(SaveMode.Overwrite)
        .option("compression", StageCompression)
        .parquet(s"$dir/append/m")
      deleteDir(s"$dir/append/d")
    }
    val wallMs = (System.nanoTime() - t0) / 1000000L

    val keptRoots = keep.result().toSet
    val carried = baseEff.filter { case (path, _) =>
      !isAppend(path) || keptRoots.contains(rootOf(path))
    }
    val tF0 = System.nanoTime()
    val perFile = footerStats(dir)
    val footerSec = (System.nanoTime() - tF0) / 1e9
    // carried-file bytes for planned reads: the base's effective bytes
    // restricted to what this append still carries (None when the base
    // predates byte tracking — the snapshot then reads via listing)
    val carriedBytes = effectiveBytesOpt(base)
      .map(_.filter { case (k, _) => carried.contains(k) })
      .filter(cb => carried.keys.forall(cb.contains))
    val m = Manifest(runId, stageName,
      rows = perFile.values.map(_._1).sum + carried.values.sum,
      fileRows = perFile.map { case (k, (r, _)) => k -> r }, wallMs = wallMs,
      metrics = metrics ++ Map(
        "footerSec" -> f"$footerSec%.2f",
        "newFiles" -> perFile.size.toString,
        "appendSets" ->
          (keptRoots.size + (if (perFile.nonEmpty) 1 else 0)).toString,
        "absorbedSets" -> absorbed.size.toString),
      version = Some(version),
      baseFiles = Some(carried),
      fileBytes = Some(perFile.map { case (k, (_, b)) => k -> b }),
      baseFileBytes = carriedBytes,
      // the partitioned data files are all carried: their schemas are
      // the base's
      dataSchema = base.dataSchema,
      appendSchema = derivedSchema(adf, Nil)
        .orElse(perFile.keys.toSeq.sorted.headOption.map(f =>
          fileSchema(spark, s"$dir/$f"))).map(_.json),
      partSchema = base.partSchema)
    writeManifest(sd, versionedManifestName(version), m)
    writeManifest(sd, ManifestName, m)
    // NOTE: deliberately returns Unit — an eager `assemble` here costs
    // a full listing of every carried file, and no caller consumes it
    // (append consumers re-open the stage via `read` when they need it)
  }

  /** Target rows per file when a cascade merge rewrites append sets
    * (append rows are narrow — assign/nodes/edges schemas — so 4M
    * rows ≈ a comfortable 100–300 MB task input).
    */
  private val MergedAppendRowsPerFile = 4L * 1000 * 1000

  /** A stage-relative file path or read root inside an append set
    * (unpartitioned files; the partition columns ride as data columns).
    */
  private def isAppend(p: String): Boolean =
    p.split('/').contains("append")

  /** Partition columns a snapshot was published with (empty when
    * unpartitioned or unrecorded).
    */
  def partitionColsOf(m: Manifest): Seq[String] =
    m.partSchema.map(j => parseStruct(j).fieldNames.toSeq).getOrElse(Nil)

  /** Append rows and live append-set count of a snapshot (the
    * compaction trigger's inputs).
    */
  def appendStats(m: Manifest): (Long, Int) = {
    val appended = effectiveFiles(m).filter { case (p, _) => isAppend(p) }
    (appended.values.sum, appended.keys.map(rootOf).toSet.size)
  }

  /** MAINTENANCE: fold the current snapshot — carried partitioned
    * files and every append set — into a fresh FULL version (the
    * Iceberg rewrite_data_files analog). Append mass and set count
    * reset to zero, carry chains break, and every older
    * version becomes expirable. `shape` lets the caller re-cluster
    * (sortWithinPartitions etc.) on the way through; `partitionBy`
    * sets the folded version's partitioning. Costs O(table) — run it
    * when appendStats crosses a threshold
    * (Pipeline.Config.compactAppendFrac), not per ingest.
    */
  def compact(spark: SparkSession, runDir: String, stageName: String,
              runId: String, partitionBy: Seq[String],
              metrics: Map[String, String] = Map.empty)
             (shape: DataFrame => DataFrame = identity): DataFrame = {
    val m = readManifest(runDir, stageName)
    val df = shape(assemble(spark, runDir, stageName, m))
    stage(spark, runDir, stageName, runId, resume = false,
      partitionBy = partitionBy,
      metrics = metrics + ("compacted" -> "true"))(df)
  }

  /** Footer-derived (row count, byte size) per *.parquet under `dir`,
    * keyed by dir-relative path — everything scan planning needs.
    *
    * Footers are opened on a bounded driver-side pool: a partitionBy
    * layout produces (tasks × partition values) small files, and the
    * ~10 ms per-open FS overhead is pure latency — serial reads cost
    * seconds per stage and dominated small pipeline runs.
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
          pool.submit(new java.util.concurrent.Callable[(String, (Long, Long))] {
            def call(): (String, (Long, Long)) = {
              val reader = ParquetFileReader.open(
                HadoopInputFile.fromPath(new HPath(p.toString), conf))
              try base.relativize(p).toString ->
                (reader.getRecordCount, Files.size(p))
              finally reader.close()
            }
          })
        }
        futures.map(_.get()).toMap
      } finally pool.shutdown()
    }

  /** Read-back schema of one written parquet file — captured at
    * publish time through the session's own inference (exact
    * type-mapping semantics), so planned reads reproduce
    * `spark.read.parquet` bit for bit.
    */
  private def fileSchema(spark: SparkSession, absFile: String) =
    IOStat.timed("snap.schemaCap")(spark.read.parquet(absFile).schema)

  /** Read-back schema derived from the FRAME we just wrote, skipping
    * the per-publish driver footer read [[fileSchema]] costs (~70 ms
    * locally; an object-store GET round-trip at real scale — pure
    * serial driver latency on every publish). Sound because Spark
    * embeds the Catalyst schema in the footer it writes and read-back
    * is exactly that schema with `asNullable` applied at the relation
    * level (SnapshotPlanSpec pins the equivalence against inference) —
    * so for types whose parquet round-trip is the identity, the
    * written frame already KNOWS its read-back schema. Types with
    * lossy round-trips (char/varchar annotations, UDTs, null type,
    * timestamp_ntz under legacy confs) return None → the caller falls
    * back to [[fileSchema]].
    */
  private def derivedSchema(df: DataFrame, partitionBy: Seq[String]
                           ): Option[org.apache.spark.sql.types.StructType] = {
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
    val data = df.schema.fields.filterNot(f => partitionBy.contains(f.name))
    if (data.forall(f => exact(f.dataType)))
      Some(StructType(data.map(f =>
        StructField(f.name, nullify(f.dataType), nullable = true,
          f.metadata))))
    else None
  }

  /** Partition schema a planned read can trust WITHOUT re-running
    * Spark's partition inference at read time: per column, all dir
    * values must be unambiguously integral (→ int/long, matching what
    * inference would produce) or unambiguously non-numeric strings
    * (letter-first — can never be mistaken for a number, date, or
    * timestamp). Anything else (date-like, decimal-like, escaped or
    * null partitions) returns None and the stage reads through the
    * listing path with real inference.
    */
  private def inferPartSchema(partitionBy: Seq[String],
                              relPaths: Iterable[String]
                             ): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    if (partitionBy.isEmpty) return Some(StructType(Nil))
    val IntRe = "-?\\d{1,18}".r
    val StrRe = "[A-Za-z_][A-Za-z0-9_.\\-]*".r
    val fields = partitionBy.map { c =>
      val prefix = c + "="
      val values = relPaths.map { p =>
        p.split('/').init.find(_.startsWith(prefix))
          .getOrElse(return None).substring(prefix.length)
      }.toSet
      if (values.isEmpty || values.contains("__HIVE_DEFAULT_PARTITION__"))
        return None
      val dt =
        if (values.forall(IntRe.matches)) {
          val longs = values.map(_.toLong)
          if (longs.forall(v => v >= Int.MinValue && v <= Int.MaxValue))
            IntegerType
          else LongType
        } else if (values.forall(StrRe.matches)) StringType
        else return None
      StructField(c, dt)
    }
    Some(StructType(fields))
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
    val json = Serialization.writePretty(m)
    val tmp: Path = Paths.get(dir, s".$name.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(dir, name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
