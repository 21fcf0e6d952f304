package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: every DISTINCT substring of exact byte
  * length L with its EXACT occurrence count, as
  * `array<struct<span: string, cnt: bigint>>` — [[SuffixDistinct]]'s
  * suffix automaton (Blumer et al. 1985) extended with endpos-class
  * occurrence counts: cnt(v) initializes to 1 for states created as
  * new rightmost positions and 0 for clones, then propagates down the
  * suffix-link tree in decreasing-length order (cnt(link(v)) +=
  * cnt(v)), the standard identity |endpos(v)| = sum of its link-tree
  * children. A length-L substring belongs to exactly ONE state (the
  * one with len(link(v)) < L <= len(v)), and its bytes are recovered
  * from the state's first-occurrence end position — so the output is
  * duplicate-free by construction and the per-document counts sum
  * across documents to exact corpus-wide frequencies.
  *
  * Why a native expression: the declarative twin explodes all n-L+1
  * position slices into the shuffle (the x_frequent_spans oracle
  * states exactly that), paying O(n*L) bytes of intermediate strings
  * per document BEFORE the aggregate; the automaton emits each
  * distinct span once with its in-document count already folded —
  * output size is the distinct-span vocabulary, not the position
  * count, which is what a corpus-wide frequency rollup shuffles at
  * 100 TB. Deliberately [[CodegenFallback]] for the same reason as
  * SuffixDistinct (per-row dynamic state arrays can't fuse into a
  * flat whole-stage loop; nullSafeEval is JIT-compiled anyway).
  * Semantics are over UTF-8 BYTES; callers strip non-ASCII first so
  * byte-length-L equals character-length-L (the x_distinct_substrings
  * recipe). Output entries are sorted by span bytes for determinism.
  */
case class SuffixSpans(child: Expression, spanLen: Int)
    extends UnaryExpression with CodegenFallback {
  require(spanLen >= 1, "suffix_spans: span length must be >= 1")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"suffix_spans requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("span", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "suffix_spans"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].getBytes
    val n = s.length
    if (n < spanLen) return new GenericArrayData(Array.empty[Any])
    val maxSt = 2 * n + 5
    val len = new Array[Int](maxSt)
    val link = new Array[Int](maxSt)
    val cnt = new Array[Long](maxSt)
    val firstEnd = new Array[Int](maxSt)
    val next = new Array[java.util.HashMap[Integer, Integer]](maxSt)
    next(0) = new java.util.HashMap[Integer, Integer]()
    link(0) = -1
    var size = 1
    var last = 0
    var i = 0
    while (i < n) {
      val c: Integer = s(i) & 0xff
      val cur = size; size += 1
      len(cur) = len(last) + 1
      link(cur) = -1
      cnt(cur) = 1L // a new rightmost position: endpos gains {i+1}
      firstEnd(cur) = i + 1
      next(cur) = new java.util.HashMap[Integer, Integer]()
      var p = last
      while (p != -1 && !next(p).containsKey(c)) {
        next(p).put(c, cur)
        p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q = next(p).get(c).intValue()
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          cnt(clone) = 0L // clones inherit occurrences via propagation
          firstEnd(clone) = firstEnd(q)
          next(clone) = new java.util.HashMap[Integer, Integer](next(q))
          while (p != -1 && {
            val t = next(p).get(c); t != null && t.intValue() == q
          }) {
            next(p).put(c, clone)
            p = link(p)
          }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      i += 1
    }
    // Propagate endpos sizes down the link tree: states in decreasing
    // len order (counting sort — len(v) <= n).
    val buckets = new Array[Int](n + 2)
    var v = 1
    while (v < size) { buckets(len(v)) += 1; v += 1 }
    var b = 1
    while (b <= n) { buckets(b) += buckets(b - 1); b += 1 }
    val byLen = new Array[Int](size - 1)
    v = 1
    while (v < size) { buckets(len(v)) -= 1; byLen(buckets(len(v))) = v; v += 1 }
    var k = byLen.length - 1
    while (k >= 0) {
      val u = byLen(k)
      if (link(u) > 0) cnt(link(u)) += cnt(u)
      k -= 1
    }
    // Emit the one state interval containing spanLen per distinct span.
    val out = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Long)]
    v = 1
    while (v < size) {
      if (len(link(v)) < spanLen && spanLen <= len(v)) {
        val bytes = java.util.Arrays.copyOfRange(
          s, firstEnd(v) - spanLen, firstEnd(v))
        out += ((bytes, cnt(v)))
      }
      v += 1
    }
    val sorted = out.sortWith { case ((a, _), (c, _)) =>
      UTF8String.fromBytes(a).compareTo(UTF8String.fromBytes(c)) < 0
    }
    new GenericArrayData(sorted.map { case (bytes, c) =>
      InternalRow(UTF8String.fromBytes(bytes), c): Any
    }.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): SuffixSpans =
    copy(child = newChild)
}

object SuffixSpans {
  def build(exprs: Seq[Expression]): SuffixSpans = {
    require(exprs.length == 2,
      "suffix_spans(str, len) takes the string plus the span length")
    val l = exprs(1)
    require(l.foldable && l.dataType == IntegerType,
      "suffix_spans: span length must be a constant INT")
    val v = l.eval()
    require(v != null, "suffix_spans: NULL span length")
    SuffixSpans(exprs.head, v.asInstanceOf[Int])
  }
}
