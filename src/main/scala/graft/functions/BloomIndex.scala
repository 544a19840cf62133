package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Per-group Bloom filter construction as a `TypedImperativeAggregate` —
  * the build side of the table format's per-file Bloom index (see
  * `VersionedTable` `bloomIndexColumns`). Input is a pre-hashed LONG
  * (`xxhash64(col)` — the caller hashes so build and probe agree on the
  * rendering of any column type); the result is the serialized
  * `org.apache.spark.util.sketch.BloomFilter` bytes, the same wire format
  * Spark's own runtime-filter machinery and [[JoinOps.bloomSemiJoin]] use.
  * Deterministic: the sketch's hashing is seed-fixed, so identical input
  * sets yield identical bytes regardless of row order (bit-OR is
  * commutative), keeping committed sidecars reproducible. */
case class BloomBuildAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomFilter] {

  require(expectedItems > 0, s"bloom_build_agg expectedItems must be > 0")
  require(fpp > 0 && fpp < 1, s"bloom_build_agg fpp must be in (0, 1)")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_build_agg requires BIGINT (pre-hash with xxhash64), got ${other.sql}")
  }

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.putLong(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter = {
    buffer.mergeInPlace(other)
    buffer
  }

  override def eval(buffer: BloomFilter): Any = serialize(buffer)

  override def serialize(buffer: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    buffer.writeTo(bos)
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomBuildAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "bloom_build_agg"
}
