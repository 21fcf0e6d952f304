package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the longest common substring LENGTH of
  * two strings — `suffix_lcs(a, b)` — via [[SuffixDistinct]]'s suffix
  * automaton: build the automaton of `a` (O(|a|) states), then walk
  * `b` through it once with the classic match-length tracker (on a
  * miss, follow suffix links, clamping the matched length to the
  * landing state's len; on a hit, extend by one; the running maximum
  * is the LCS). Total O(|a| + |b|) with zero intermediate strings —
  * the textbook two-string completion of the automaton family
  * (SuffixDistinct counts, SuffixSpans ranks, this one compares).
  *
  * Why a native expression: the declarative twin explodes BOTH
  * strings' O(n^2) slices and joins them on equality (exactly what
  * the x_common_spans oracle states) — n^2 rows and n^3 bytes into a
  * join per pair, against one linear scan here. Deliberately
  * [[CodegenFallback]] for SuffixDistinct's reason (dynamic per-row
  * automaton state). Byte semantics; callers strip non-ASCII first.
  */
case class SuffixLcs(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"suffix_lcs requires two STRING inputs, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "suffix_lcs"

  override def nullSafeEval(la: Any, rb: Any): Any = {
    val s = la.asInstanceOf[UTF8String].getBytes
    val b = rb.asInstanceOf[UTF8String].getBytes
    val n = s.length
    if (n == 0 || b.length == 0) return 0L
    // --- suffix automaton of `s` (the SuffixDistinct construction) ---
    val maxSt = 2 * n + 5
    val len = new Array[Int](maxSt)
    val link = new Array[Int](maxSt)
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
    // --- walk `b`, tracking the current match length ---
    var v = 0
    var l = 0
    var best = 0L
    var j = 0
    while (j < b.length) {
      val c: Integer = b(j) & 0xff
      while (v != 0 && !next(v).containsKey(c)) {
        v = link(v)
        l = len(v)
      }
      if (next(v).containsKey(c)) {
        v = next(v).get(c).intValue()
        l += 1
      } else { v = 0; l = 0 }
      if (l > best) best = l.toLong
      j += 1
    }
    best
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SuffixLcs =
    copy(left = newLeft, right = newRight)
}

object SuffixLcs {
  def build(exprs: Seq[Expression]): SuffixLcs = {
    require(exprs.length == 2, "suffix_lcs(a, b) takes two arguments")
    SuffixLcs(exprs(0), exprs(1))
  }
}
