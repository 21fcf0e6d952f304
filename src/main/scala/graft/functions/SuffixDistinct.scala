package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the number of DISTINCT substrings of a
  * string, via a suffix automaton (Blumer et al. 1985's DAWG; the
  * online construction is Blumer's, popularized as the "suffix
  * automaton" extend step). The count is the classic identity
  * `sum over non-root states of len(v) - len(link(v))` — each state
  * contributes exactly the substrings that end at it and nowhere
  * shorter.
  *
  * Why a native expression: the declarative twin explodes all
  * O(n^2) substrings and hashes them into a distinct set — O(n^3)
  * bytes of intermediate strings; the automaton is O(n) states and
  * O(n log sigma) construction with ZERO intermediate strings. The
  * oracle-gated catalog query (`x_distinct_substrings`) states the
  * naive explode on the DuckDB side, so green proves the automaton.
  *
  * Implementation note: this expression is deliberately
  * [[CodegenFallback]] (unlike MultiMatch/RollingHash): the automaton
  * needs per-row dynamic allocation of state arrays and per-state
  * transition maps, which cannot fuse into a flat whole-stage loop —
  * inlining ~80 lines of allocation-heavy Java buys nothing over this
  * compiled JVM method, and the zero-UDF policy's actual target
  * (interpreted Python/closure call overhead per row) does not apply:
  * nullSafeEval is JIT-compiled like any Expression. Semantics are
  * over UTF-8 BYTES; for ASCII input this equals character-level
  * distinct-substring counting (the catalog query strips non-ASCII
  * first, as in x_lz_complexity).
  */
case class SuffixDistinct(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"suffix_distinct requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "suffix_distinct"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].getBytes
    val n = s.length
    if (n == 0) return 0L
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
    var total = 0L
    var v = 1
    while (v < size) { total += len(v) - len(link(v)); v += 1 }
    total
  }

  override protected def withNewChildInternal(newChild: Expression): SuffixDistinct =
    copy(child = newChild)
}

object SuffixDistinct {
  def build(exprs: Seq[Expression]): SuffixDistinct = {
    require(exprs.length == 1, "suffix_distinct(str) takes one argument")
    SuffixDistinct(exprs.head)
  }
}
