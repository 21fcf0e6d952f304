package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GkQuantileAgg

/** The mergeable GK quantile aggregate: the 2εn rank-error band must
  * hold under arbitrary partition splits, merge-tree shapes, and
  * serialization roundtrips — the band is the contract (trajectories
  * are arrival-order-dependent by design, so no output-equality test
  * exists; see the expression scaladoc). */
class GkQuantileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** First-rmax-covering-rank query rule, as documented. */
  private def estimate(ts: Seq[(Long, Long, Long)], r: Long): Long = {
    var cum = 0L
    ts.foreach { case (v, g, d) =>
      cum += g
      if (cum + d >= r) return v
    }
    ts.last._1
  }

  /** Exact rank-interval distance of the estimate from target rank r. */
  private def rankErr(sorted: Array[Long], est: Long, r: Long): Long = {
    val lo = sorted.count(_ < est) + 1L
    val hi = sorted.count(_ <= est).toLong
    math.max(0L, math.max(lo - r, r - hi))
  }

  private def drive(values: Array[Long], epsDenom: Int, seed: Long,
      withSerde: Boolean): (Long, Seq[(Long, Long, Long)]) = {
    val rnd = new Random(seed)
    val agg = GkQuantileAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0L),
      org.apache.spark.sql.catalyst.expressions.Literal(epsDenom))
    // random chunking
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var i = 0
    while (i < values.length) {
      val sz = 1 + rnd.nextInt(1200)
      chunks += values.slice(i, i + sz)
      i += sz
    }
    // one buffer per chunk, inserted in chunk order
    var bufs = chunks.map { ch =>
      val b = agg.createAggregationBuffer()
      ch.foreach(b.insert)
      b
    }
    // random binary merge tree, with optional serde between rounds
    while (bufs.length > 1) {
      val i1 = rnd.nextInt(bufs.length)
      val b1 = bufs.remove(i1)
      val i2 = rnd.nextInt(bufs.length)
      val b2raw = bufs.remove(i2)
      val b2 = if (withSerde) agg.deserialize(agg.serialize(b2raw)) else b2raw
      b1.mergeIn(b2)
      bufs.insert(rnd.nextInt(bufs.length + 1), b1)
    }
    val fin = bufs.head
    fin.flush()
    (fin.n, fin.tuples.map(t => (t.v, t.g, t.d)).toSeq)
  }

  test("exact when eps is too fine for any compression") {
    // thr = max(1, 2*300/4096) = 1 and no pair can merge under g+g+d <= 1,
    // so every tuple stays (v, 1, 0) through every merge: exact answers.
    val vals = Array.tabulate(300)(i => (i * 37 % 301).toLong)
    val (n, ts) = drive(vals, 4096, seed = 1L, withSerde = false)
    assert(n == 300)
    val sorted = vals.sorted
    for (r <- Seq(1L, 75L, 150L, 225L, 300L)) {
      assert(rankErr(sorted, estimate(ts, r), r) == 0L, s"rank $r")
    }
  }

  test("2eps*n band holds across randomized splits, merge trees, serde") {
    for (seed <- 1 to 8; epsDenom <- Seq(16, 64)) {
      val rnd = new Random(seed * 1000L)
      val vals = Array.fill(20000)(rnd.nextLong() % 5000)
      val (n, ts) = drive(vals, epsDenom, seed = seed + 7L,
        withSerde = seed % 2 == 0)
      assert(n == vals.length.toLong)
      val sorted = vals.sorted
      val band = 2L * n / epsDenom
      // invariant max(g + d) <= 2eps*n — the proof obligation itself
      // (+2 slack: a merge where one side is too small for floor(2eps*n)
      // to reach 1 pays the max(1, .) clamp, see mergeLists' scaladoc)
      assert(ts.map(t => t._2 + t._3).max <= band + 2,
        s"invariant seed=$seed eps=1/$epsDenom")
      // min and max exact
      assert(ts.head._1 == sorted.head && ts.last._1 == sorted.last)
      for (phi <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
        val r = math.max(1L, math.ceil(phi * n).toLong)
        val err = rankErr(sorted, estimate(ts, r), r)
        assert(err <= band, s"seed=$seed eps=1/$epsDenom phi=$phi err=$err")
      }
      // bounded state: insert-only buffers sit at the ~2/eps compress
      // equilibrium; merges saturate deltas toward 2eps*n, after which
      // concatenation dominates — state grows with merge fan-in, not n
      // (see the aggregate scaladoc). ~33 chunks here -> log2 factor 6.
      val chunkBound = (2 * epsDenom + 4) * 6
      assert(ts.length <= chunkBound,
        s"summary size ${ts.length} at eps=1/$epsDenom")
    }
  }

  test("dataframe path: grouped summaries respect the band per group") {
    Graft.install(spark)
    val rnd = new Random(42)
    val rows = (1 to 12000).map(i => (i % 7, rnd.nextLong() % 10000))
    val df = rows.toDF("k", "x").repartition(13)
    val got = df.groupBy("k")
      .agg(expr("gk_quantile(x, 32)").as("gk"))
      .select(col("k"), col("gk.n").as("n"), col("gk.ts").as("ts"))
      .collect()
    assert(got.length == 7)
    got.foreach { row =>
      val k = row.getInt(0)
      val n = row.getLong(1)
      val ts = row.getSeq[org.apache.spark.sql.Row](2)
        .map(t => (t.getLong(0), t.getLong(1), t.getLong(2)))
      val sorted = rows.filter(_._1 == k).map(_._2).sorted.toArray
      assert(n == sorted.length.toLong)
      val band = math.max(1L, 2L * n / 32)
      for (phi <- Seq(0.25, 0.5, 0.75)) {
        val r = math.max(1L, math.ceil(phi * n).toLong)
        val err = rankErr(sorted, estimate(ts, r), r)
        assert(err <= band, s"k=$k phi=$phi err=$err band=$band")
      }
    }
  }

  test("null values ignored; bad eps rejected") {
    Graft.install(spark)
    val got = Seq[(Int, Option[Long])]((1, Some(5L)), (1, None), (1, Some(9L)))
      .toDF("k", "x")
      .groupBy("k").agg(expr("gk_quantile(x, 16)").as("gk"))
      .select(col("gk.n")).collect()(0).getLong(0)
    assert(got == 2L)
    val e = intercept[Exception] {
      Seq(1L).toDF("x").agg(expr("gk_quantile(x, 1)")).collect()
    }
    assert(e.getMessage.contains("eps_denom"), e.getMessage)
  }
}
