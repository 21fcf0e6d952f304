package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.NnDescent

/** NN-Descent: planted-cluster recovery from hostile seeds, list-size
  * invariants, deterministic tie-breaks, and round monotonicity. */
class NnDescentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 4 clusters x 10 members; ids round-robin across clusters so the
    * ring seed is maximally WRONG (every ring neighbor is another
    * cluster) and only the descent rounds can find cluster mates.
    * Members share a one-hot base direction plus a small unique
    * component, so intra-cluster cosine ~0.99 >> inter ~0.1. */
  private def planted = {
    val rows = for (id <- 0L until 40L) yield {
      val cluster = (id % 4).toInt
      val member = (id / 4).toInt
      val v = Array.fill(8)(0.01f)
      v(cluster) = 1.0f
      v(4 + (member % 4)) = 0.1f + 0.01f * member
      (id, v.toSeq)
    }
    rows.toDF("id", "v")
      .withColumn("v", col("v").cast("array<float>"))
      .withColumn("nrm", expr("sqrt(dot_product(v, v))"))
  }

  private def ringInit(n: Long) =
    (0L until n).flatMap(i => Seq((i, (i + 1) % n), (i, (i + 2) % n)))
      .toDF("src", "dst")

  test("planted clusters recovered from a hostile ring seed") {
    Graft.install(spark)
    val g = NnDescent.knnGraph(planted, ringInit(40), k = 9, rounds = 4)
    val got = g.select("src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // every node's 9 neighbors are exactly its 9 cluster mates
    for (id <- 0L until 40L) {
      val mates = (0L until 40L).filter(j => j != id && j % 4 == id % 4).toSet
      assert(got(id) == mates, s"node $id")
    }
  }

  test("neighbor lists are capped at k with contiguous ranks") {
    Graft.install(spark)
    val g = NnDescent.knnGraph(planted, ringInit(40), k = 3, rounds = 2)
    val byNode = g.select("src", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
    byNode.values.foreach { rs =>
      val ranks = rs.map(_._2).sorted.toSeq
      assert(ranks == (1 to ranks.length) && ranks.length <= 3)
    }
  }

  test("identical vectors tie-break by neighbor id") {
    Graft.install(spark)
    val same = (0L until 6L).map(i => (i, Seq.fill(4)(1.0f)))
      .toDF("id", "v")
      .withColumn("v", col("v").cast("array<float>"))
      .withColumn("nrm", expr("sqrt(dot_product(v, v))"))
    val g = NnDescent.knnGraph(same, ringInit(6), k = 2, rounds = 2)
    val top = g.filter(col("rn") === 1).select("src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // all cosines equal 1.0 -> rank 1 must be the smallest-id candidate
    top.foreach { case (s, d) =>
      assert(d == (if (s == 0L) 1L else 0L), s"node $s top $d")
    }
  }

  test("more rounds never lose recall on the planted corpus") {
    Graft.install(spark)
    def recall(rounds: Int): Double = {
      val g = NnDescent.knnGraph(planted, ringInit(40), k = 9, rounds = rounds)
      val hits = g.select("src", "dst").collect().count { r =>
        r.getLong(0) % 4 == r.getLong(1) % 4
      }
      hits / (40.0 * 9.0)
    }
    val r1 = recall(1); val r2 = recall(2); val r4 = recall(4)
    assert(r1 <= r2 + 1e-9 && r2 <= r4 + 1e-9)
    assert(r4 == 1.0)
  }
}
