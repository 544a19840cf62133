package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FilePruningRunner, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A `FileIndex` over exactly the files a table version's manifest lists —
  * the planner's view of a versioned read with no directory listing.
  *
  * `spark.read.parquet(paths)` builds an `InMemoryFileIndex` that lists the
  * paths it was handed again: above `parallelPartitionDiscovery.threshold`
  * (32 paths) that listing is a Spark job with one task per file, paid on
  * every read of a version the manifest has already enumerated. Here each
  * file costs one driver-side `getFileStatus` through the table's Hadoop
  * `FileSystem`, taken when the index is built, so a file that is gone
  * (vacuumed) fails the read at plan time, as a listing would.
  *
  * The partition schema is empty: partitioned tables' files hold only the
  * data columns, and [[VersionedTable]]'s scan re-attaches partition values
  * from the manifest. Two indexes over the same file set are equal, so
  * CacheManager lookups and exchange reuse match two reads of one version,
  * as they do with `InMemoryFileIndex` over the same root paths.
  * `inputFiles` renders paths the way `InMemoryFileIndex` does
  * (`SparkPath.urlEncoded`, i.e. `Path.toUri.toString`). Same move as
  * Delta's `TahoeFileIndex`, which serves a snapshot's files from its log. */
final class ManifestFileIndex(spark: SparkSession, paths: Seq[Path]) extends FileIndex {
  private val statuses: Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.map { p =>
      val fs = p.getFileSystem(conf)
      fs.getFileStatus(fs.makeQualified(p))
    }
  }

  /** The indexed files' statuses, in manifest order. */
  def allFiles: Seq[FileStatus] = statuses

  private lazy val pathSet: Set[Path] = statuses.map(_.getPath).toSet

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  /** One unpartitioned directory of every non-empty file, after the
    * file-constant `_metadata` filters (file name, size, …) among
    * `dataFilters`, exactly as `InMemoryFileIndex` prunes them. Every data
    * filter is still re-applied to the scanned rows by the planner. */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(new FilePruningRunner(dataFilters).prune(PartitionDirectory(InternalRow.empty,
      statuses.filter(_.getLen > 0).map(FileStatusWithMetadata(_)))))

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => pathSet == o.pathSet
    case _ => false
  }

  override def hashCode(): Int = pathSet.hashCode()

  override def toString: String = s"ManifestFileIndex[${statuses.size} files]"
}
