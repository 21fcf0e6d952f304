package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Aho–Corasick multi-pattern matching
  * (Aho & Corasick 1975) — occurrence counts of EVERY needle in a fixed
  * vocabulary against the input string, in ONE left-to-right pass, as
  * `array<bigint>` (position i = count of needle i, overlapping
  * occurrences included).
  *
  * Reference capability: blocklist/safety filtering over document text
  * (the C4 badwords stage; `x_blocklist_filter` runs the token-exact
  * form). That query — and any regexp/instr formulation — scans the
  * corpus once PER NEEDLE: a real blocklist has hundreds of terms, so at
  * 100 TB the per-needle form reads 100 TB × needles. This automaton
  * reads each byte exactly once regardless of vocabulary size — the
  * scan cost is O(bytes + matches), with the vocabulary compiled into a
  * dense byte-transition table on the driver and shipped to executors
  * inside the expression (a broadcast-sized object: states × 256 ints).
  *
  * Semantics are defined over UTF-8 BYTES. For ASCII needles this
  * equals character-level substring counting even on non-ASCII input:
  * UTF-8 is self-synchronizing (continuation bytes have the high bit
  * set), so an all-ASCII needle can never match across a multi-byte
  * character — which is what lets the DuckDB oracle state the naive
  * per-needle character-position count and prove the single-pass
  * automaton against it.
  *
  * Why a native expression (and not the declarative twin): counting all
  * overlapping occurrences of k needles declaratively is k separate
  * `transform(sequence(...), i -> substring = needle)` scans — O(n·k)
  * with per-window lambda frames; the dictionary-suffix-link automaton
  * is the textbook O(n) answer and fuses into whole-stage codegen as a
  * single flat loop over the byte array (no allocation beyond the
  * output counts).
  */
case class MultiMatch(child: Expression, needles: Seq[String])
    extends UnaryExpression {
  require(needles.nonEmpty, "multi_match needs at least one needle")
  require(needles.forall(_.nonEmpty), "multi_match: empty needle")
  require(needles.distinct.length == needles.length,
    "multi_match: duplicate needle")

  // Compiled automaton — deterministic function of `needles`, rebuilt
  // lazily on each executor after deserialization (the case class only
  // carries the needle strings; the dense table never serializes).
  @transient private lazy val ac = MultiMatch.compile(needles)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"multi_match requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "multi_match"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val counts = new Array[Long](needles.length)
    var st = 0
    var i = 0
    while (i < bytes.length) {
      st = ac.step(st * 256 + (bytes(i) & 0xff))
      var o = ac.outStart(st)
      val end = ac.outStart(st + 1)
      while (o < end) { counts(ac.outNeedle(o)) += 1; o += 1 }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The three automaton arrays ride along as codegen references —
    // the matching loop itself is generated flat Java inside the
    // whole-stage body (no virtual calls on the byte path).
    val stepRef = ctx.addReferenceObj("acStep", ac.step, "int[]")
    val outStartRef = ctx.addReferenceObj("acOutStart", ac.outStart, "int[]")
    val outNeedleRef = ctx.addReferenceObj("acOutNeedle", ac.outNeedle, "int[]")
    nullSafeCodeGen(ctx, ev, c => {
      val arrCls = classOf[GenericArrayData].getName
      val bytes = ctx.freshName("bytes")
      val counts = ctx.freshName("counts")
      val st = ctx.freshName("st")
      val i = ctx.freshName("i")
      val o = ctx.freshName("o")
      val end = ctx.freshName("end")
      s"""
         |final byte[] $bytes = $c.getBytes();
         |final long[] $counts = new long[${needles.length}];
         |int $st = 0;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $st = $stepRef[$st * 256 + ($bytes[$i] & 0xff)];
         |  final int $end = $outStartRef[$st + 1];
         |  for (int $o = $outStartRef[$st]; $o < $end; $o++) {
         |    $counts[$outNeedleRef[$o]]++;
         |  }
         |}
         |${ev.value} = new $arrCls($counts);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatch =
    copy(child = newChild)
}

object MultiMatch {

  /** Dense Aho–Corasick automaton in CSR form: `step` is the full
    * byte-transition table (states × 256, failure links pre-resolved so
    * the scan never backtracks); `outStart`/`outNeedle` list, per state,
    * every needle that ends at it — dictionary suffix links flattened at
    * compile time, so a match of "scan" also reports "can" and "an"
    * without walking links at scan time. */
  final class Automaton(
      val step: Array[Int],
      val outStart: Array[Int],
      val outNeedle: Array[Int])

  def compile(needles: Seq[String]): Automaton = {
    val byteSeqs = needles.map(_.getBytes("UTF-8")).toArray
    val maxStates = byteSeqs.map(_.length).sum + 1
    val step = Array.fill(maxStates * 256)(-1)
    val out = Array.fill(maxStates)(List.empty[Int])
    var nStates = 1
    // 1. Trie over needle bytes.
    var idx = 0
    while (idx < byteSeqs.length) {
      var st = 0
      for (b <- byteSeqs(idx)) {
        val c = b & 0xff
        if (step(st * 256 + c) == -1) { step(st * 256 + c) = nStates; nStates += 1 }
        st = step(st * 256 + c)
      }
      out(st) = idx :: out(st)
      idx += 1
    }
    // 2. BFS: resolve failure links into the dense table and merge
    //    dictionary outputs (fail(v) is always processed before v, so
    //    its outputs are already complete when appended).
    val fail = new Array[Int](nStates)
    val queue = new java.util.ArrayDeque[Integer]()
    var c = 0
    while (c < 256) {
      val v = step(c)
      if (v == -1) step(c) = 0
      else { fail(v) = 0; queue.add(v) }
      c += 1
    }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      var c = 0
      while (c < 256) {
        val v = step(u * 256 + c)
        val viaFail = step(fail(u) * 256 + c)
        if (v == -1) step(u * 256 + c) = viaFail
        else {
          fail(v) = viaFail
          out(v) = out(v) ::: out(viaFail)
          queue.add(v)
        }
        c += 1
      }
    }
    // 3. CSR flatten.
    val outStart = new Array[Int](nStates + 1)
    var s = 0
    while (s < nStates) { outStart(s + 1) = outStart(s) + out(s).length; s += 1 }
    val outNeedle = new Array[Int](outStart(nStates))
    s = 0
    while (s < nStates) {
      var o = outStart(s)
      for (n <- out(s)) { outNeedle(o) = n; o += 1 }
      s += 1
    }
    new Automaton(java.util.Arrays.copyOf(step, nStates * 256), outStart, outNeedle)
  }

  /** SQL builder: `multi_match(str, 'n1', 'n2', ...)` — every needle a
    * foldable STRING (the automaton is compiled once at plan time, so a
    * column-valued needle is rejected at analysis, not eval). */
  def build(exprs: Seq[Expression]): MultiMatch = {
    require(exprs.length >= 2,
      "multi_match(str, needle, ...) takes the string plus >=1 needles")
    val needles = exprs.tail.map { e =>
      require(e.foldable && e.dataType == StringType,
        "multi_match: every needle must be a constant STRING")
      val v = e.eval()
      require(v != null, "multi_match: NULL needle")
      v.asInstanceOf[UTF8String].toString
    }
    MultiMatch(exprs.head, needles)
  }
}
