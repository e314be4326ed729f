package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] planned entirely from a snapshot manifest — ZERO
  * filesystem listing. Every snapshot read goes through it.
  * `spark.read.parquet(dir)` would pay a recursive directory walk (plus
  * a distributed listing job past the parallel-discovery threshold)
  * every time a stored table is opened; at thousands of files that
  * walk grows with the CORPUS even when the query reads a delta-sized
  * slice, and on object stores each listed dir is an RPC. The manifest
  * already records every file with its row count and byte size, so
  * scan planning comes straight from it — the Iceberg manifest-read
  * shape (TailBench measured the listing at 25 s/ingest at a 400k-file
  * corpus against 0.1–0.3 s planned; see BENCH.md §13.6).
  *
  * Partition values are parsed from the manifest's RELATIVE paths
  * (`ident=false/part-...parquet`) against the schema the PUBLISHER
  * recorded (int, long or string; the publisher refuses values it
  * cannot type) — no inference at read time. Partition pruning mirrors
  * Spark's own `PartitioningAwareFileIndex.prunePartitions` binding
  * (public Apache source, spark/sql/core
  * .../PartitioningAwareFileIndex.scala): attribute references bind by
  * name to the partition schema and the predicate evaluates per
  * directory. An index over no files (a publish that wrote none) scans
  * nothing.
  *
  * File modification times are reported as 0 (the manifest does not
  * record them): `_metadata.file_modification_time` is not meaningful
  * on snapshot reads.
  *
  * @param files (root-relative path, bytes) per file
  */
final class ManifestFileIndex(
    spark: SparkSession,
    root: Path,
    files: Seq[(String, Long)],
    override val partitionSchema: StructType
) extends FileIndex {

  private val dirs: Seq[(InternalRow, Array[FileStatus])] = {
    val grouped = files.groupBy { case (rel, _) =>
      rel.split('/').init.toSeq // partition dir segments
    }
    grouped.toSeq
      .sortBy(_._1.mkString("/"))
      .map { case (segs, fs) =>
        val row = InternalRow.fromSeq(partitionSchema.fields.map { f =>
          val seg = segs.find(_.startsWith(f.name + "="))
            .getOrElse(throw new IllegalStateException(
              s"manifest file ${fs.head._1} lacks partition segment " +
                s"for column '${f.name}'"))
          val v = seg.substring(f.name.length + 1)
          f.dataType match {
            case IntegerType => v.toInt
            case LongType    => v.toLong
            case StringType  => UTF8String.fromString(v)
            case dt => throw new IllegalStateException(
              s"unsupported manifest partition type $dt for '${f.name}'")
          }
        }.toSeq)
        val statuses = fs.map { case (rel, bytes) =>
          new FileStatus(bytes, false, 1, 134217728L, 0L, new Path(root, rel))
        }.toArray
        (row, statuses)
      }
  }

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) dirs
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val idx = partitionSchema.fieldIndex(a.name)
              BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
          })
        dirs.filter { case (row, _) => bound.eval(row) }
      }
    kept.map { case (row, fs) => PartitionDirectory(row, fs) }
  }

  override def inputFiles: Array[String] =
    files.map { case (rel, _) => new Path(root, rel).toString }.toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._2).sum
}
