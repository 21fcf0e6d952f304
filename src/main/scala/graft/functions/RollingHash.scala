package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Rabin–Karp polynomial rolling hashes of
  * every k-byte window of a string, as `array<bigint>`.
  *
  * `h_i = sum_{j<k} byte[i+j] * B^(k-1-j) mod M` with B=257,
  * M=1_000_000_007 — the classic winnowing/fingerprinting kernel
  * (reference capability: content fingerprinting for near-dup detection,
  * `utils/change_detector.py` hashes whole snapshots; this is the
  * windowed generalization a 100 TB dedup needs).
  *
  * Why a native expression: the declarative twin
  * `transform(sequence(1, n-k+1), i -> aggregate(...))` is O(n*k) and
  * allocates an index array + per-window lambda frames; this kernel is
  * O(n) — each window hash is derived from the previous one by
  * subtracting the outgoing byte's `B^(k-1)` term and pushing the
  * incoming byte (one fused codegen loop, no allocation beyond the
  * output array).
  *
  * Semantics are defined over UTF-8 BYTES (values 0-255). For ASCII
  * input this equals the per-character definition DuckDB computes with
  * `ascii(substring(...))`, which is what the oracle-gated catalog query
  * feeds it (non-ASCII stripped first, as in `x_token_bpe`).
  */
case class RollingHash(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"window size must be positive, got $k")

  private val M = 1000000007L
  private val B = 257L
  /** B^(k-1) mod M — the outgoing byte's coefficient. */
  private val P: Long = {
    var p = 1L
    var i = 1
    while (i < k) { p = p * B % M; i += 1 }
    p
  }

  // ExpectsInputTypes is unusable outside org.apache.spark.sql
  // (AbstractDataType is private[sql]); validate explicitly instead.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    val cnt = math.max(n - k + 1, 0)
    val out = new Array[Long](cnt)
    if (cnt > 0) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * B + (bytes(j) & 0xff)) % M; j += 1 }
      out(0) = h
      var i = 1
      while (i < cnt) {
        h = (h - (bytes(i - 1) & 0xff) * P % M + M) % M
        h = (h * B + (bytes(i + k - 1) & 0xff)) % M
        out(i) = h
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arrCls = classOf[GenericArrayData].getName
      val bytes = ctx.freshName("bytes")
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |final byte[] $bytes = $c.getBytes();
         |final int $n = $bytes.length;
         |final int $cnt = Math.max($n - $k + 1, 0);
         |final long[] $out = new long[$cnt];
         |if ($cnt > 0) {
         |  long $h = 0L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    $h = ($h * ${B}L + ($bytes[$j] & 0xff)) % ${M}L;
         |  }
         |  $out[0] = $h;
         |  for (int $i = 1; $i < $cnt; $i++) {
         |    $h = ($h - ($bytes[$i - 1] & 0xff) * ${P}L % ${M}L + ${M}L) % ${M}L;
         |    $h = ($h * ${B}L + ($bytes[$i + $k - 1] & 0xff)) % ${M}L;
         |    $out[$i] = $h;
         |  }
         |}
         |${ev.value} = new $arrCls($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  /** SQL builder shared by [[register]] and the session-extensions
    * injection: k must be a foldable integral in Int range, widened from
    * any integer literal type — a BIGINT literal (`CAST(8 AS BIGINT)`)
    * works, and a column reference / fractional / NULL k fails with a
    * clear analysis-time message instead of an opaque eval-time cast. */
  def build(exprs: Seq[Expression]): RollingHash = {
    require(exprs.length == 2, "rolling_hash(str, k) takes two arguments")
    require(exprs(1).foldable,
      "rolling_hash(str, k): k must be a constant (foldable) expression")
    val k = exprs(1).eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"rolling_hash(str, k): k must be an integer in Int range, " +
          s"got ${if (other == null) "NULL" else other.toString}")
    }
    RollingHash(exprs.head, k)
  }
}
