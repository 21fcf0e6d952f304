package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native Catalyst aggregate: a MERGEABLE Greenwald–Khanna quantile
  * summary (GK, SIGMOD 2001) — `gk_quantile(x, eps_denom)` over BIGINT
  * values returns `struct<n: bigint, ts: array<struct<v, g, d>>>`, the
  * classic (value, g, Δ) tuple list with ε = 1/eps_denom.
  *
  * Guarantee (the contract the spec audits): after ANY sequence of
  * inserts and merges, every tuple satisfies g + Δ <= 2εn, so the
  * first-rmax-covering rule answers any rank query within 2εn. State:
  * insert-only buffers hold the ~2/ε compress equilibrium; each merge
  * adds the other side's local uncertainty to every tuple's Δ, so deep
  * merge trees saturate Δ toward 2εn and late merges concatenate
  * rather than compress — worst-case state is O((1/ε) · merge fan-in),
  * observed O((1/ε) · log fan-in) (GkQuantileSpec pins both). At a
  * 1000-partition reduce with ε = 1/32 that is a ~100 KB final object
  * — the ε-EXACT price of full mergeability; schemes that re-compress
  * past saturation spend extra ε budget per prune and lose the fixed
  * band (declared out of scope, the t-digest discipline). That trade
  * is what makes GK the 100 TB quantile answer: partials combine
  * map-side and merge like any sum, where an exact per-group quantile
  * shuffles every row.
  *
  * Why the invariant survives a merge (the part plain GK leaves
  * informal; re-derived here in absolute-rank form): write each tuple
  * as its rank interval [rmin, rmax] (rmin = prefix-sum of g,
  * rmax = rmin + Δ). Tuples interleave by value with ties A-first, and
  * a tuple t from A at merge pointers (i, j) has
  *   rmin' = rmin_A(t) + rmin_B(b_{j-1})   (strictly before t),
  *   rmax' = rmax_A(t) + rmax_B(b_j) - 1   (sorts after t; + n_B at
  *                                          the end),
  * both of which bound the B-mass sorting before t's elements, so
  * g' = g_A(t) exactly and
  *   Δ' = Δ_A(t) + g_B(b_j) + Δ_B(b_j) - 1 <= 2εn_A + 2εn_B - 1,
  * i.e. the merged summary is ε-approximate for n_A + n_B (the
  * SPARK-21184 class of bug — merging by concatenation WITHOUT the
  * other side's local uncertainty — is exactly what this adjustment
  * prevents; see mergeLists' scaladoc for the tie subtlety). The
  * compress pass then drops any middle tuple whose merge into its
  * successor keeps g + Δ <= floor(2εn); min and max tuples are never
  * dropped, so rank 1 and rank n stay exact.
  *
  * Trajectories are arrival-order-dependent (which partition's buffer
  * merges first changes the surviving tuples), so the RESULT is not
  * hash-replayable and the catalog gates this aggregate through the
  * band-audit pattern instead (a_gk_band_audit publishes the COMPUTED
  * band check next to oracle-exact quantiles; GkQuantileSpec drives
  * randomized split/merge trees directly). The deterministic
  * sorted-fold twin with a full trajectory oracle is a_grouped_gk.
  */
case class GkQuantileAgg(
    child: Expression,
    epsDenomExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GkQuantileAgg.Buf] {

  import GkQuantileAgg._

  // Evaluate the FOLDABLE expression rather than pattern-matching Literal
  // (round-14 ADVICE: checkInputDataTypes accepts any foldable integer —
  // `8 + 8`, a CAST — which Catalyst may or may not have constant-folded
  // into a Literal by execution time, so a Literal-only match threw at
  // runtime for expressions that passed analysis).
  private lazy val epsDenom: Int =
    epsDenomExpr.eval(InternalRow.empty) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"gk_quantile(x, eps_denom): eps_denom must be a non-null integer, got $other")
    }

  override def createAggregationBuffer(): Buf = {
    require(epsDenom >= 2, s"gk_quantile: eps_denom must be >= 2, got $epsDenom")
    new Buf(epsDenom)
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: Buf, b2: Buf): Buf = { b1.mergeIn(b2); b1 }

  override def eval(buf: Buf): Any = {
    buf.flush()
    InternalRow(
      buf.n,
      new GenericArrayData(buf.tuples.map(t =>
        InternalRow(t.v, t.g, t.d): Any).toArray))
  }

  override def serialize(buf: Buf): Array[Byte] = {
    buf.flush()
    val bb = ByteBuffer.allocate(4 + 8 + 4 + buf.tuples.length * 24)
    bb.putInt(buf.epsDenom)
    bb.putLong(buf.n)
    bb.putInt(buf.tuples.length)
    buf.tuples.foreach { t => bb.putLong(t.v); bb.putLong(t.g); bb.putLong(t.d) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Buf(bb.getInt())
    buf.n = bb.getLong()
    val k = bb.getInt()
    (0 until k).foreach { _ =>
      buf.tuples += Tuple(bb.getLong(), bb.getLong(), bb.getLong())
    }
    buf
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gk_quantile requires a BIGINT value column, got ${child.dataType.catalogString}")
    else if (!epsDenomExpr.foldable ||
        !(epsDenomExpr.dataType == IntegerType || epsDenomExpr.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "gk_quantile requires an integer literal eps_denom")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def withNewMutableAggBufferOffset(newOffset: Int): GkQuantileAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GkQuantileAgg =
    copy(inputAggBufferOffset = newOffset)
  override def dataType: DataType = GkQuantileAgg.resultType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, epsDenomExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GkQuantileAgg =
    copy(child = newChildren(0), epsDenomExpr = newChildren(1))
  override def prettyName: String = "gk_quantile"
}

object GkQuantileAgg {

  val resultType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("ts", ArrayType(StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("g", LongType, nullable = false),
      StructField("d", LongType, nullable = false))),
      containsNull = false), nullable = false)))

  final case class Tuple(v: Long, g: Long, d: Long)

  /** Mutable GK buffer: a sorted (v, g, Δ) list plus a raw batch that
    * amortizes inserts — a full batch sorts and merges in as an EXACT
    * summary (every raw value is a g=1, Δ=0 tuple), so insertion is
    * just [[mergeIn]] with one side exact. */
  final class Buf(val epsDenom: Int) {
    var n: Long = 0L
    val tuples: ArrayBuffer[Tuple] = ArrayBuffer.empty
    private val raw: ArrayBuffer[Long] = ArrayBuffer.empty
    private val rawCap = 512

    private def thr(total: Long): Long = math.max(1L, 2L * total / epsDenom)

    def insert(x: Long): Unit = {
      raw += x
      if (raw.length >= rawCap) flush()
    }

    def flush(): Unit = if (raw.nonEmpty) {
      val batch = raw.toArray
      java.util.Arrays.sort(batch)
      raw.clear()
      val exact = batch.map(v => Tuple(v, 1L, 0L))
      val merged = mergeLists(tuples.toArray, n, exact, batch.length.toLong)
      n += batch.length
      tuples.clear()
      tuples ++= compress(merged, thr(n))
    }

    def mergeIn(other: Buf): Unit = {
      flush(); other.flush()
      val merged = mergeLists(tuples.toArray, n, other.tuples.toArray, other.n)
      n += other.n
      tuples.clear()
      tuples ++= compress(merged, thr(n))
    }
  }

  /** Rank-interval merge (see the case-class scaladoc): convert both
    * sides to absolute [rmin, rmax], interleave by value with ties
    * A-first, bound each tuple's interval by the other side at the
    * CURRENT pointer, and convert back to (g, Δ) with monotone clamps.
    *
    * Tie discipline (the round-14 debug find): equal-valued tuples from
    * the two sides stay SEPARATE, ordered A-then-B, and each tuple's
    * bounds treat the other side's equal values as sorting on their
    * tie side — so pred is exactly other[ptr-1] (strictly emitted
    * before) and succ exactly other[ptr] (emitted after, equal or
    * greater). An earlier draft scanned pred forward past equal values,
    * which absorbed the equal tuple's whole g into this tuple's lower
    * bound while its uncertainty was still charged via the skip-past
    * successor — inflating g + Δ beyond 2εn (observed 240 vs 149 on a
    * two-sided tie). With the pointer rule, every merged tuple has
    * g' = g_S(t) exactly and Δ' <= Δ_S(t) + g_O(succ) + Δ_O(succ) - 1,
    * so max(g + Δ) <= thr_S + thr_O <= floor(2εn_C) (+1 only when a
    * side is too small for its floor to reach 1) — the invariant the
    * spec asserts. */
  private[graft] def mergeLists(a: Array[Tuple], nA: Long,
      b: Array[Tuple], nB: Long): Array[Tuple] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    def ranks(ts: Array[Tuple]): (Array[Long], Array[Long]) = {
      val rmin = new Array[Long](ts.length)
      val rmax = new Array[Long](ts.length)
      var c = 0L
      var i = 0
      while (i < ts.length) {
        c += ts(i).g; rmin(i) = c; rmax(i) = c + ts(i).d; i += 1
      }
      (rmin, rmax)
    }
    val (rminA, rmaxA) = ranks(a)
    val (rminB, rmaxB) = ranks(b)
    val out = new ArrayBuffer[(Long, Long, Long)](a.length + b.length)
    var i = 0
    var j = 0
    while (i < a.length || j < b.length) {
      val fromA = j >= b.length || (i < a.length && a(i).v <= b(j).v)
      if (fromA) {
        // b(j-1) sorts strictly before a(i) (an equal b would already
        // have violated the A-first tie order when IT was emitted);
        // b(j) sorts after a(i) — equal or greater either way.
        val lo = if (j == 0) 0L else rminB(j - 1)
        val hi = if (j >= b.length) nB else rmaxB(j) - 1L
        out += ((a(i).v, rminA(i) + lo, rmaxA(i) + hi))
        i += 1
      } else {
        // a(i-1).v <= b(j).v (it was emitted before b(j), ties A-first)
        // and a(i).v > b(j).v strictly (fromA would have fired).
        val lo = if (i == 0) 0L else rminA(i - 1)
        val hi = if (i >= a.length) nA else rmaxA(i) - 1L
        out += ((b(j).v, rminB(j) + lo, rmaxB(j) + hi))
        j += 1
      }
    }
    // Monotone clamps, then back to (g, Δ).
    val res = new Array[Tuple](out.length)
    var prevMin = 0L
    var k = 0
    while (k < out.length) {
      val (v, lo0, hi0) = out(k)
      val lo = math.max(lo0, prevMin)
      val hi = math.max(hi0, lo)
      res(k) = Tuple(v, lo - prevMin, hi - lo)
      prevMin = lo
      k += 1
    }
    res
  }

  /** One left-to-right compress pass: merge tuple i into i+1 while the
    * result keeps g + Δ <= thr; the first and last tuples never merge
    * away (rank 1 and rank n stay exact). */
  private[graft] def compress(ts: Array[Tuple], thr: Long): Array[Tuple] = {
    if (ts.length <= 2) return ts
    val out = ArrayBuffer[Tuple](ts(0))
    var pend = ts(1)
    var i = 2
    while (i < ts.length) {
      val t = ts(i)
      if (pend.g + t.g + t.d <= thr) pend = Tuple(t.v, pend.g + t.g, t.d)
      else { out += pend; pend = t }
      i += 1
    }
    out += pend
    out.toArray
  }
}
