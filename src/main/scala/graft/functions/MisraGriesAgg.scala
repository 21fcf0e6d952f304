package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst aggregate: Misra-Gries heavy-hitter CANDIDATES —
  * `mg_topk(item, k)` returns every item that COULD have frequency
  * > n/k, as a sorted array of at most k-1 strings.
  *
  * The sketch is the classic frequent-items summary (Misra & Gries
  * 1982) with the mergeability result of Agarwal et al. 2012
  * ("Mergeable Summaries", PODS): a buffer of at most k-1 counters;
  * an arriving item increments its counter, opens a new one if there
  * is room, or decrements ALL counters by 1 (conceptually canceling
  * k distinct items against each other); two buffers merge by adding
  * counters and then subtracting the k-th largest resulting count
  * from everything, dropping non-positives. Each cancellation
  * removes >= k occurrences, of which at most 1 belongs to any given
  * item, so an item's counter underestimates its true frequency by
  * at most n/k — hence every TRUE heavy hitter (freq > n/k) survives
  * with a positive counter, in ANY arrival order and under ANY merge
  * tree. That superset guarantee is the contract; the counters
  * themselves are order-dependent, which is why eval() deliberately
  * returns only the item SET (sorted): the caller must make the
  * final decision with an exact second pass (join the candidates
  * back, count exactly, filter freq*k > n), and THAT result is
  * deterministic and oracle-checkable.
  *
  * Why a custom aggregate (SURVEY.md §7.3 step (b)): the exact
  * alternative is a full groupBy over the key space — at 100 TB a
  * shuffle of every distinct token versus this sketch's k-1-counter
  * buffer that partial-aggregates map-side and merges like any sum.
  */
case class MisraGriesAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  private lazy val k: Int = kExpr match {
    case Literal(v, IntegerType) => v.asInstanceOf[Int]
    case Literal(v, LongType)    => v.asInstanceOf[Long].toInt
    case other => throw new IllegalArgumentException(
      s"mg_topk(item, k): k must be an integer literal, got $other")
  }
  private def cap: Int = {
    require(k >= 2, s"mg_topk(item, k): k must be >= 2, got $k")
    k - 1
  }

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      buf.get(item) match {
        case Some(c) => buf.update(item, c + 1)
        case None if buf.size < cap => buf.update(item, 1L)
        case None =>
          // No room: decrement everything (cancel k distinct items —
          // the arriving one plus the k-1 counters), dropping zeros.
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { key =>
            val c = buf(key) - 1
            if (c == 0L) dead += key else buf.update(key, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      b1: mutable.HashMap[String, Long],
      b2: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b2.foreach { case (item, c) =>
      b1.update(item, b1.getOrElse(item, 0L) + c)
    }
    if (b1.size > cap) {
      // Subtract the k-th largest count from all counters (Agarwal et
      // al.'s merge): at most k-1 counters stay positive, and the
      // per-item undercount bounds of the two inputs ADD, preserving
      // the n/k guarantee for the union of the streams.
      val counts = b1.values.toArray
      java.util.Arrays.sort(counts)
      val kth = counts(counts.length - cap - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      b1.keysIterator.foreach { key =>
        val c = b1(key) - kth
        if (c <= 0L) dead += key else b1.update(key, c)
      }
      dead.foreach(b1.remove)
    }
    b1
  }

  /** The candidate item set, sorted — counts are intentionally NOT
    * returned (they are arrival-order-dependent; the set is what the
    * guarantee covers, and the exact verify pass re-counts anyway). */
  override def eval(buf: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buf.keysIterator.toArray.sorted.map(UTF8String.fromString(_)))

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray
    val bytes = entries.map { case (s, _) => s.getBytes(StandardCharsets.UTF_8) }
    val size = 4 + bytes.map(_.length + 4 + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      bb.putInt(bytes(i).length)
      bb.put(bytes(i))
      bb.putLong(entries(i)._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt()
      val arr = new Array[Byte](len)
      bb.get(arr)
      buf.update(new String(arr, StandardCharsets.UTF_8), bb.getLong())
    }
    buf
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"mg_topk requires a STRING item column, got ${child.dataType.catalogString}")
    else if (!kExpr.foldable ||
        !(kExpr.dataType == IntegerType || kExpr.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "mg_topk requires an integer literal k")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, kExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
  override def prettyName: String = "mg_topk"
}
