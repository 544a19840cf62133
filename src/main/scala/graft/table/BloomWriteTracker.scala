package graft.table

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GetStructField, XxHash64}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import java.nio.file.{Files, Path, StandardCopyOption}

/** Builds each written file's Bloom filters in the task that writes the
  * file, as a `WriteJobStatsTracker` of the table's write funnel.
  *
  * `newRow` sees every row the writer puts into a file, in the file's data
  * schema (partition columns are not in it). Per indexed column it
  * evaluates `xxhash64` of the column, or of the `GetStructField` chain of
  * a dotted leaf — the Catalyst expression behind SQL's `xxhash64`, so a
  * null hashes to the seed and the probe's `xxhash64(CAST(.. AS type))`
  * agrees on every type. With an explicit `expectedItems` the hashes go
  * straight into a filter of that size; otherwise they are buffered per
  * file (8 B per row and column) and `closeFile` sizes the filter from the
  * file's own row count. Each task returns (file path relative to the
  * commit directory, column, serialized filter) for the files it wrote; the
  * commit protocol keeps that relative path (partition segments plus file
  * name) when it moves the file into place. `processStats` runs on the
  * driver over committed task attempts only, and leaves their entries in
  * [[entries]]. A file without rows gets no entry, so it survives every
  * probe, as a file the filters do not cover always does.
  *
  * @param hashes     (indexed column name, hash expression bound to the
  *                   file's data schema) per resolvable indexed column
  * @param relSegments path segments that name a file below the commit dir
  */
private[table] final class BloomWriteTracker(
    hashes: Seq[(String, Expression)],
    relSegments: Int,
    expectedItems: Option[Long],
    fpp: Double) extends WriteJobStatsTracker {

  @transient private var collected: Seq[(String, String, Array[Byte])] = Nil

  /** (path relative to the commit dir, column, filter bytes) of every
    * non-empty committed file, once the write job has committed. */
  def entries: Seq[(String, String, Array[Byte])] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new BloomWriteTracker.Task(
    hashes, relSegments, expectedItems, fpp)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case BloomWriteTracker.TaskStats(es) => es }
}

private[table] object BloomWriteTracker {

  final case class TaskStats(entries: Seq[(String, String, Array[Byte])]) extends WriteTaskStats

  /** One open file: its filters when they are sized up front, else its
    * buffered hashes (one buffer per column). */
  private final class OpenFile(val rel: String, val filters: Array[BloomFilter],
      val buffers: Array[scala.collection.mutable.ArrayBuilder.ofLong]) {
    var rows = 0L
  }

  private final class Task(hashes: Seq[(String, Expression)], relSegments: Int,
      expectedItems: Option[Long], fpp: Double) extends WriteTaskStatsTracker {
    private val exprs = hashes.map(_._2).toArray
    private val open = scala.collection.mutable.HashMap.empty[String, OpenFile]
    private val done = scala.collection.mutable.ArrayBuffer.empty[(String, String, Array[Byte])]

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      val rel = filePath.split('/').takeRight(relSegments).mkString("/")
      val n = exprs.length
      open(filePath) = expectedItems match {
        case Some(items) => new OpenFile(rel, Array.fill(n)(BloomFilter.create(items, fpp)), null)
        case None => new OpenFile(rel, null,
          Array.fill(n)(new scala.collection.mutable.ArrayBuilder.ofLong))
      }
    }

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val f = open(filePath)
      f.rows += 1
      var i = 0
      while (i < exprs.length) {
        val h = exprs(i).eval(row).asInstanceOf[Long]
        if (f.filters != null) f.filters(i).putLong(h) else f.buffers(i) += h
        i += 1
      }
    }

    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach(finish)

    private def finish(f: OpenFile): Unit = if (f.rows > 0) {
      hashes.indices.foreach { i =>
        val bf = if (f.filters != null) f.filters(i) else {
          val b = BloomFilter.create(f.rows, fpp)
          f.buffers(i).result().foreach(b.putLong)
          b
        }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        done += ((f.rel, hashes(i)._1, bos.toByteArray))
      }
    }

    // the writer closes its last file (closeFile) before it asks for stats
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = TaskStats(done.toSeq)
  }

  /** The hash expressions of `columns` against a file's data schema: an
    * exact top-level name first, then the dotted struct walk
    * ([[VersionedTable.leafType]]'s collision rule, so a nested leaf such
    * as `meta.media_id` indexes under the name a pushed nested predicate
    * carries). Names through an array or map, or off the schema, are left
    * out. */
  def hashExpressions(schema: StructType, columns: Seq[String]): Seq[(String, Expression)] =
    columns.flatMap { c =>
      def top(name: String): Option[Expression] = {
        val i = schema.fields.indexWhere(_.name == name)
        if (i < 0) None else Some(BoundReference(i, schema(i).dataType, nullable = true))
      }
      val leaf = VersionedTable.leafType(schema, c).flatMap { _ =>
        top(c).orElse {
          val parts = c.split('.')
          top(parts.head).map(parts.tail.foldLeft(_) { (e, name) =>
            val s = e.dataType.asInstanceOf[StructType]
            GetStructField(e, s.fields.indexWhere(_.name == name), Some(name))
          })
        }
      }
      leaf.map(e => c -> (new XxHash64(Seq(e)): Expression))
    }

  /** Parquet schema of a Bloom sidecar part: the (path, column, bloom)
    * rows Spark's writer produced for the same sidecar. */
  private val SidecarSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary path (STRING);
      |  optional binary column (STRING);
      |  optional binary bloom;
      |}""".stripMargin)

  /** Write `rows` as `<dir>/part-00000.parquet` with parquet-mr, on the
    * calling thread: no Spark job. The part is written under a dot name
    * (which sidecar readers skip) and renamed into place, so a reader never
    * sees a torn file. */
  def writeSidecar(dir: Path, rows: Seq[(String, String, Array[Byte])]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary
    Files.createDirectories(dir)
    val tmp = dir.resolve(".part-00000.parquet.tmp")
    val groups = new SimpleGroupFactory(SidecarSchema)
    val writer = ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(tmp))
      .withType(SidecarSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach { case (path, column, bloom) =>
      writer.write(groups.newGroup().append("path", path).append("column", column)
        .append("bloom", Binary.fromConstantByteArray(bloom)))
    } finally writer.close()
    Files.move(tmp, dir.resolve("part-00000.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }
}
