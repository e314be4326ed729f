package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] planned entirely from a snapshot manifest — ZERO
  * filesystem listing. Every snapshot read goes through it.
  * `spark.read.parquet(dir)` would pay a recursive directory walk (plus
  * a distributed listing job past the parallel-discovery threshold)
  * every time a stored table is opened; at thousands of files that
  * walk grows with the CORPUS even when the query reads a delta-sized
  * slice, and on object stores each listed dir is an RPC. The manifest
  * already records every file with its row count and byte size, so
  * scan planning comes straight from it — the Iceberg manifest-read
  * shape (the listing measured 25 s/ingest at a 400k-file corpus
  * against 0.1–0.3 s planned; see BENCH.md §13.6).
  *
  * Snapshot files sit in no partition directory, so the index is one
  * [[PartitionDirectory]] with an empty partition schema: filters reach
  * the parquet reader as data filters and skip by row-group stats. An
  * index over no files (a publish that wrote none) scans nothing.
  *
  * File modification times are reported as 0 (the manifest does not
  * record them): `_metadata.file_modification_time` is not meaningful
  * on snapshot reads.
  *
  * @param files (root-relative path, bytes) per file
  */
final class ManifestFileIndex(root: Path, files: Seq[(String, Long)])
    extends FileIndex {

  private val statuses: Array[FileStatus] = files.sortBy(_._1).map {
    case (rel, bytes) =>
      new FileStatus(bytes, false, 1, 134217728L, 0L, new Path(root, rel))
  }.toArray

  override def partitionSchema: StructType = StructType(Nil)

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (statuses.isEmpty) Nil
    else Seq(PartitionDirectory(InternalRow.empty, statuses))

  override def inputFiles: Array[String] = statuses.map(_.getPath.toString)

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._2).sum
}
