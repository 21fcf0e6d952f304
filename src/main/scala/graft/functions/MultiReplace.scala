package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: single-pass multi-pattern REPLACEMENT
  * with the leftmost-longest rule — the redaction engine completing
  * [[MultiMatch]] (that expression counts; this one rewrites).
  * `multi_replace(str, repl, n1, n2, ...)` returns
  * `struct<rewritten: string, counts: array<bigint>>` where counts(i)
  * is how many times needle i was replaced.
  *
  * Reference capability: PII/blocklist redaction over document text —
  * `x_redact_pii` rewrites with one `regexp_replace` pass PER pattern,
  * so a real vocabulary reads the corpus once per needle AND the
  * pattern-order is a silent semantic knob (an earlier pattern can
  * destroy a later pattern's match). This expression pins the
  * tokenizer-standard rule instead: scan left to right; at each
  * position replace the LONGEST needle starting there (leftmost wins
  * over longer-but-later, longest wins among same-start); resume after
  * the replaced span. One pass, order-free semantics.
  *
  * Implementation: the needle set compiles (on the driver, shipped as
  * strings exactly like MultiMatch) into a pure byte TRIE with a
  * per-state accepting needle id. The scan walks the trie from each
  * start position, remembering the last accepting depth — that IS the
  * longest match anchored at the position, which is what replacement
  * needs; Aho–Corasick's suffix-link outputs are END-anchored and
  * would force buffering/backtracking to recover the same rule. Cost
  * is O(n * Lmax) worst case with Lmax the longest needle — a
  * compile-time vocabulary constant (single-digit bytes for real
  * blocklists), so the scan stays effectively linear at any corpus
  * scale and fuses into whole-stage codegen as two nested flat loops
  * over the byte array.
  *
  * Semantics are over UTF-8 BYTES. All-ASCII needles can never match
  * across a multi-byte character (UTF-8 is self-synchronizing), and
  * non-matching bytes are copied verbatim, so the rewritten string is
  * valid UTF-8 whenever the input, needles, and replacement are.
  */
case class MultiReplace(child: Expression, repl: String, needles: Seq[String])
    extends UnaryExpression {
  require(needles.nonEmpty, "multi_replace needs at least one needle")
  require(needles.forall(_.nonEmpty), "multi_replace: empty needle")
  require(needles.distinct.length == needles.length,
    "multi_replace: duplicate needle")

  @transient private lazy val trie = MultiReplace.compile(needles)
  @transient private lazy val replBytes = repl.getBytes("UTF-8")
  @transient private lazy val minNeedleLen =
    needles.map(_.getBytes("UTF-8").length).min

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"multi_replace requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = StructType(Seq(
    StructField("rewritten", StringType, nullable = false),
    StructField("counts", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "multi_replace"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val out = new Array[Byte](
      MultiReplace.outBound(bytes.length, minNeedleLen, replBytes.length))
    val counts = new Array[Long](needles.length)
    var w = 0
    var i = 0
    while (i < bytes.length) {
      var st = 0
      var j = i
      var lastNeedle = -1
      var lastEnd = -1
      var cont = true
      while (cont && j < bytes.length) {
        st = trie.step(st * 256 + (bytes(j) & 0xff))
        if (st < 0) cont = false
        else {
          j += 1
          if (trie.accept(st) >= 0) { lastNeedle = trie.accept(st); lastEnd = j }
        }
      }
      if (lastNeedle >= 0) {
        System.arraycopy(replBytes, 0, out, w, replBytes.length)
        w += replBytes.length
        counts(lastNeedle) += 1
        i = lastEnd
      } else {
        out(w) = bytes(i); w += 1; i += 1
      }
    }
    InternalRow(UTF8String.fromBytes(out, 0, w), new GenericArrayData(counts))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stepRef = ctx.addReferenceObj("mrStep", trie.step, "int[]")
    val acceptRef = ctx.addReferenceObj("mrAccept", trie.accept, "int[]")
    val replRef = ctx.addReferenceObj("mrRepl", replBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c => {
      val arrCls = classOf[GenericArrayData].getName
      val rowCls = classOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow].getName
      val utfCls = classOf[UTF8String].getName
      val bytes = ctx.freshName("bytes")
      val out = ctx.freshName("out")
      val counts = ctx.freshName("counts")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val st = ctx.freshName("st")
      val j = ctx.freshName("j")
      val lastN = ctx.freshName("lastN")
      val lastEnd = ctx.freshName("lastEnd")
      val fields = ctx.freshName("fields")
      val bound = ctx.freshName("bound")
      s"""
         |final byte[] $bytes = $c.getBytes();
         |final long $bound = (long) $bytes.length
         |  + ((long) $bytes.length / ${minNeedleLen}L)
         |    * ${math.max(0, replBytes.length - minNeedleLen)}L
         |  + ${replBytes.length}L;
         |if ($bound > Integer.MAX_VALUE - 16) {
         |  throw new IllegalArgumentException(
         |    "multi_replace: worst-case output " + $bound
         |    + " bytes exceeds the JVM array limit");
         |}
         |final byte[] $out = new byte[(int) $bound];
         |final long[] $counts = new long[${needles.length}];
         |int $w = 0;
         |int $i = 0;
         |while ($i < $bytes.length) {
         |  int $st = 0;
         |  int $j = $i;
         |  int $lastN = -1;
         |  int $lastEnd = -1;
         |  while ($j < $bytes.length) {
         |    $st = $stepRef[$st * 256 + ($bytes[$j] & 0xff)];
         |    if ($st < 0) break;
         |    $j++;
         |    if ($acceptRef[$st] >= 0) { $lastN = $acceptRef[$st]; $lastEnd = $j; }
         |  }
         |  if ($lastN >= 0) {
         |    System.arraycopy($replRef, 0, $out, $w, $replRef.length);
         |    $w += $replRef.length;
         |    $counts[$lastN]++;
         |    $i = $lastEnd;
         |  } else {
         |    $out[$w++] = $bytes[$i++];
         |  }
         |}
         |final Object[] $fields = new Object[2];
         |$fields[0] = $utfCls.fromBytes($out, 0, $w);
         |$fields[1] = new $arrCls($counts);
         |${ev.value} = new $rowCls($fields);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MultiReplace =
    copy(child = newChild)
}

object MultiReplace {

  /** Pure byte trie in dense form: `step` is states x 256 with -1 for
    * "no such extension" (unlike MultiMatch's table, failure is an
    * explicit miss — the walk is start-anchored); `accept(s)` is the
    * needle id ending exactly at state s, -1 otherwise (needle strings
    * are distinct, so at most one needle ends at any trie node). */
  final class Trie(val step: Array[Int], val accept: Array[Int])

  /** Worst-case rewritten size, computed in Long (round-14 ADVICE: the old
    * `n * replLen + replLen` bound was 32-bit and overflowed to a negative
    * array size for ~100 MB inputs with multi-byte replacements). The tight
    * bound: every disjoint match consumes at least `minNeedleLen` input
    * bytes and emits `replLen`, so growth is capped at
    * `(n / minNeedleLen) * max(0, replLen - minNeedleLen)`. Inputs whose
    * worst case exceeds the JVM array limit fail with a clear message
    * instead of a NegativeArraySizeException. */
  def outBound(n: Int, minNeedleLen: Int, replLen: Int): Int = {
    val grow = math.max(0, replLen - minNeedleLen).toLong
    val bound = n.toLong + (n.toLong / minNeedleLen) * grow + replLen.toLong
    if (bound > Int.MaxValue - 16)
      throw new IllegalArgumentException(
        s"multi_replace: worst-case output $bound bytes exceeds the JVM " +
        s"array limit (input $n bytes, replacement $replLen bytes, " +
        s"shortest needle $minNeedleLen bytes)")
    bound.toInt
  }

  def compile(needles: Seq[String]): Trie = {
    val byteSeqs = needles.map(_.getBytes("UTF-8")).toArray
    val maxStates = byteSeqs.map(_.length).sum + 1
    val step = Array.fill(maxStates * 256)(-1)
    val accept = Array.fill(maxStates)(-1)
    var nStates = 1
    var idx = 0
    while (idx < byteSeqs.length) {
      var st = 0
      for (b <- byteSeqs(idx)) {
        val c = b & 0xff
        if (step(st * 256 + c) == -1) { step(st * 256 + c) = nStates; nStates += 1 }
        st = step(st * 256 + c)
      }
      accept(st) = idx
      idx += 1
    }
    new Trie(java.util.Arrays.copyOf(step, nStates * 256),
      java.util.Arrays.copyOf(accept, nStates))
  }

  /** SQL builder: `multi_replace(str, repl, 'n1', ...)` — repl and every
    * needle a foldable STRING (the trie compiles once at plan time). */
  def build(exprs: Seq[Expression]): MultiReplace = {
    require(exprs.length >= 3,
      "multi_replace(str, repl, needle, ...) takes the string, the " +
        "replacement, plus >=1 needles")
    val consts = exprs.tail.map { e =>
      require(e.foldable && e.dataType == StringType,
        "multi_replace: replacement and needles must be constant STRINGs")
      val v = e.eval()
      require(v != null, "multi_replace: NULL replacement/needle")
      v.asInstanceOf[UTF8String].toString
    }
    MultiReplace(exprs.head, consts.head, consts.tail)
  }
}
