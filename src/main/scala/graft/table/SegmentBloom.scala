package graft.table

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnExpr
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** The raw material of a segment's bloom filter as an aggregate: every
  * non-null long of `child` (the column's xxhash64), evaluated to those
  * longs packed big-endian, or to null once they exceed
  * [[SegmentBloom.RawHashBudget]].
  *
  * It rides on a segment write as an observed metric, before the write
  * has counted the rows that size the filter; the driver builds the
  * filter from the hashes afterwards ([[SegmentBloom.filterOf]]). Every
  * write task ships its buffer to the driver, so each task keeps at
  * most its share of the budget (budget ÷ the stage's tasks) and
  * overflows past it: what the driver receives stays within the budget
  * whatever the number of tasks, and an overflow leaves the filter to a
  * pass over the written files.
  */
case class SegmentBloom(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SegmentBloom.Buffer] with UnaryLike[Expression] {
  import SegmentBloom.Buffer

  override def createAggregationBuffer(): Buffer = {
    // a task keeps its stage's share of the budget; the driver, merging
    // every task's buffer, holds the whole budget
    val tasks = Option(org.apache.spark.TaskContext.get()).map(_.numPartitions()).getOrElse(1)
    new Buffer(SegmentBloom.RawHashBudget / math.max(tasks, 1))
  }

  override def update(b: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) b.put(v.asInstanceOf[Long])
    b
  }

  override def merge(b: Buffer, o: Buffer): Buffer = { b.mergeFrom(o); b }

  override def eval(b: Buffer): Any = b.result

  override def serialize(b: Buffer): Array[Byte] = b.toBytes

  override def deserialize(bytes: Array[Byte]): Buffer =
    Buffer.fromBytes(createAggregationBuffer(), bytes)

  override def withNewMutableAggBufferOffset(o: Int): SegmentBloom =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SegmentBloom =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SegmentBloom =
    copy(child = c)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "segment_bloom"
}

object SegmentBloom {
  /** Raw hashes one aggregate keeps across all of a write's tasks: 8 MB,
    * a segment of about a million rows. A larger write builds its
    * filters by a pass over its files, whose fixed cost is small beside
    * such a write.
    */
  val RawHashBudget: Int = 1 << 20

  /** Column API: the raw hashes of `hash` (a long column), null beyond
    * the budget.
    */
  def agg(hash: Column): Column =
    ColumnExpr.toColumn(SegmentBloom(ColumnExpr.expr(hash)).toAggregateExpression())

  /** The filter of `expectedItems` built from the aggregate's raw hashes. */
  def filterOf(hashes: Array[Byte], expectedItems: Long, fpp: Double): BloomFilter = {
    val bf = BloomFilter.create(expectedItems, fpp)
    val buf = java.nio.ByteBuffer.wrap(hashes)
    while (buf.hasRemaining) bf.putLong(buf.getLong())
    bf
  }

  /** The raw hashes while at most `limit`, then nothing: overflowed. */
  final class Buffer(limit: Int) {
    private var hashes = new Array[Long](16)
    private var n = 0
    private var overflowed = false

    def put(h: Long): Unit =
      if (overflowed) ()
      else if (n == limit) overflow()
      else {
        if (n == hashes.length)
          hashes = java.util.Arrays.copyOf(hashes, math.max(1, math.min(limit, n * 2)))
        hashes(n) = h
        n += 1
      }

    private def overflow(): Unit = { overflowed = true; hashes = null; n = 0 }

    def mergeFrom(o: Buffer): Unit =
      if (o.overflowed) overflow()
      else { var i = 0; while (i < o.n) { put(o.hashes(i)); i += 1 } }

    /** The raw hashes, or null. */
    def result: Array[Byte] =
      if (overflowed) null
      else {
        val buf = java.nio.ByteBuffer.allocate(8 * n)
        var i = 0
        while (i < n) { buf.putLong(hashes(i)); i += 1 }
        buf.array()
      }

    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(if (overflowed) -1 else n)
      var i = 0
      while (i < n) { out.writeLong(hashes(i)); i += 1 }
      out.close()
      bos.toByteArray
    }
  }

  object Buffer {
    def fromBytes(b: Buffer, bytes: Array[Byte]): Buffer = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      if (n < 0) b.overflow()
      else { var i = 0; while (i < n) { b.put(in.readLong()); i += 1 } }
      b
    }
  }
}
