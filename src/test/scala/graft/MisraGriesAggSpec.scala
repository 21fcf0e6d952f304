package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** MisraGriesAgg (`mg_topk`) — the contract is the SUPERSET guarantee:
  * every item with true frequency > n/k appears in the candidate array,
  * in any arrival order and under any partial-aggregate merge tree.
  * The counters themselves are order-dependent and deliberately not
  * exposed; the catalog query (x_heavy_hitters) re-counts candidates
  * exactly, so these tests pin the guarantee plus the plumbing. */
class MisraGriesAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A Zipf-flavored stream: item i appears ~N/i times (deterministic),
    * so the head is heavy and the tail is long. */
  private def zipf(n: Int): Seq[String] =
    (1 to n).flatMap(i => Seq.fill(n / i)(s"item_$i"))

  private def candidates(df: org.apache.spark.sql.DataFrame, k: Int): Set[String] = {
    Graft.install(spark)
    df.agg(expr(s"mg_topk(w, $k)").as("cs"))
      .select(explode(col("cs")).as("w"))
      .collect().map(_.getString(0)).toSet
  }

  private def trueHeavy(items: Seq[String], k: Int): Set[String] = {
    val n = items.size
    items.groupBy(identity).collect {
      case (w, occ) if occ.size.toLong * k > n => w
    }.toSet
  }

  test("superset guarantee on a zipf stream, several k") {
    val items = zipf(200)
    val df = items.toDF("w")
    for (k <- Seq(5, 20, 50)) {
      val cand = candidates(df, k)
      val heavy = trueHeavy(items, k)
      assert(heavy.subsetOf(cand),
        s"k=$k: missing true heavy hitters ${heavy -- cand}")
      assert(cand.size <= k - 1, s"k=$k: ${cand.size} candidates exceed k-1")
    }
  }

  test("superset guarantee survives adversarial ordering and any partitioning") {
    val items = zipf(150)
    val heavy = trueHeavy(items, 10)
    // sorted (all dups adjacent), reverse-sorted, interleaved — and
    // each under single-partition vs many-partition merge trees.
    val orders = Seq(items.sorted, items.sorted.reverse,
      items.zipWithIndex.sortBy { case (_, i) => i % 7 }.map(_._1))
    for (ord <- orders; parts <- Seq(1, 13)) {
      val cand = candidates(ord.toDF("w").repartition(parts), 10)
      assert(heavy.subsetOf(cand), s"parts=$parts: missing ${heavy -- cand}")
    }
  }

  test("exact two-pass plan (sketch -> verify) equals the direct exact answer") {
    val items = zipf(300)
    val df = items.toDF("w").repartition(11)
    val k = 25
    val n = items.size
    Graft.install(spark)
    val cands = df.agg(expr(s"mg_topk(w, $k)").as("cs"))
      .select(explode(col("cs")).as("w"))
    val got = df.join(broadcast(cands), Seq("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * k > n)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = items.groupBy(identity).collect {
      case (w, occ) if occ.size.toLong * k > n => w -> occ.size.toLong
    }.toMap
    assert(got == want)
  }

  test("small distinct domains come back complete (no spurious cancellation)") {
    // fewer distinct items than k-1: MG never evicts, everything is a
    // candidate regardless of frequency.
    val df = Seq("a", "b", "b", "c", "c", "c").toDF("w")
    assert(candidates(df, 10) == Set("a", "b", "c"))
  }

  test("nulls are ignored, k < 2 and non-literal k refuse") {
    Graft.install(spark)
    val df = Seq(Some("a"), None, Some("a"), Some("b")).toDF("w")
    val cand = df.agg(expr("mg_topk(w, 5)").as("cs"))
      .select(explode(col("cs")).as("w"))
      .collect().map(_.getString(0)).toSet
    assert(cand == Set("a", "b"))
    val e = intercept[Exception] {
      df.agg(expr("mg_topk(w, 1)")).collect()
    }
    assert(e.getMessage.contains("k must be >= 2"))
  }
}
