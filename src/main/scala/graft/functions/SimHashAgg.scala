package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst aggregate: 63-bit SimHash (Charikar majority vote) over
  * a group of md5-hex token hashes — `simhash_agg(md5(tok))` per document.
  *
  * Semantics match the declarative formulation the DuckDB oracle uses
  * (TextCatalog.duckSimhashCte): bit j reads nibble j/4 of the hex digest
  * (`instr('0123456789abcdef', c) - 1`), contributes +1 if bit j%4 of the
  * nibble is set else -1, and the final signature sets bit j iff the sum
  * is strictly positive. 63 bits (not 64) keeps the result in a signed
  * BIGINT and divides evenly into the 9x7-bit pigeonhole bands of
  * `x_simhash_neardup`.
  *
  * Why a custom aggregate (SURVEY.md §7.3 preference order, step (b)):
  * the pure-SQL alternative needs either an explode to 63 rows per token
  * (an extra 63x shuffle) or 63 separate sum() aggregate expressions (a
  * very large codegen unit); this is ONE aggregate with a 63-int buffer,
  * partial-aggregated map-side and merged by buffer addition — the same
  * distributed shape as any built-in sum.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  private val Bits = 63

  override def createAggregationBuffer(): Array[Int] = new Array[Int](Bits)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val hex = v.asInstanceOf[UTF8String].toString
      // simhash_agg is registered session-wide, so any SQL user can feed it
      // arbitrary strings: reject non-digest input with a clear error
      // instead of a raw StringIndexOutOfBounds (short input) or silently
      // skewed bits (Character.digit = -1 on non-hex).
      if (hex.length < (Bits >> 2) + 1)
        throw new IllegalArgumentException(
          s"simhash_agg expects an md5-style hex digest (>= ${(Bits >> 2) + 1} hex chars), " +
            s"got a ${hex.length}-char string: '$hex'")
      var j = 0
      while (j < Bits) {
        val digit = Character.digit(hex.charAt(j >> 2), 16)
        if (digit < 0)
          throw new IllegalArgumentException(
            s"simhash_agg expects hex-digit input, found '${hex.charAt(j >> 2)}' in '$hex'")
        if (((digit >> (j & 3)) & 1) == 1) buf(j) += 1 else buf(j) -= 1
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
    var j = 0
    while (j < Bits) { b1(j) += b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Int]): Any = {
    var out = 0L
    var j = 0
    while (j < Bits) { if (buf(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(Bits * 4)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(Bits)(bb.getInt())
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash_agg requires a STRING md5-hex input, got ${child.dataType.catalogString}")

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashAgg = copy(child = newChildren.head)
  override def prettyName: String = "simhash_agg"
}
