package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.KCenter

/** Gonzalez greedy k-center: farthest-point selection and the
  * coverage-radius audit on hand-checkable vector sets. */
class KCenterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // planar unit vectors at the given angle (degrees): cosine distance
  // between two = 1 - cos(angle delta), monotone in the delta
  private def ring(idAngles: (Long, Double)*) = {
    Graft.install(spark)
    idAngles.map { case (id, deg) =>
      val rad = math.toRadians(deg)
      (id, Seq(math.cos(rad).toFloat, math.sin(rad).toFloat))
    }.toDF("id", "v")
      .withColumn("nrm", expr("sqrt(dot_product(v, v))"))
  }

  private def centers(pts: org.apache.spark.sql.DataFrame, k: Int) =
    KCenter.select(pts, k)
      .select("rank", "center", "radius")
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq

  test("farthest-point order on a hand-checked arc") {
    // angles: 0 (id 1), 10 (id 2), 90 (id 3), 180 (id 4)
    val got = centers(ring(1L -> 0.0, 2L -> 10.0, 3L -> 90.0,
      4L -> 180.0), 3)
    // start at id 1; farthest is 180; then 90 (dist 1 to both poles)
    assert(got.map(_._2) == Seq(1L, 4L, 3L))
    // radii: max dist to {1} = 2 (the antipode), then to {1,4} = 1
    // (id 3), then to {1,4,3} = 1 - cos(10 deg) (id 2)
    assert(math.abs(got(0)._3 - 2.0) < 1e-6)
    assert(math.abs(got(1)._3 - 1.0) < 1e-6)
    assert(math.abs(got(2)._3 - (1 - math.cos(math.toRadians(10)))) < 1e-6)
  }

  test("radius is non-increasing in rank") {
    val got = centers(ring((1L to 12L).map(i =>
      i -> (i * 31.0 % 360)): _*), 6)
    got.sliding(2).foreach(w => assert(w(1)._3 <= w(0)._3 + 1e-12))
  }

  test("k = 1 returns the least id with the global max distance") {
    val got = centers(ring(5L -> 0.0, 9L -> 120.0, 7L -> 240.0), 1)
    assert(got.map(_._2) == Seq(5L))
    assert(math.abs(got(0)._3 - 1.5) < 1e-6) // 1 - cos(120) = 1.5
  }

  test("duplicate vectors: farthest ties resolve by least id") {
    val got = centers(ring(1L -> 0.0, 2L -> 180.0, 3L -> 180.0), 2)
    assert(got.map(_._2) == Seq(1L, 2L))
  }

  test("k beyond distinct geometry still returns k ranks") {
    val got = centers(ring(1L -> 0.0, 2L -> 180.0), 2)
    assert(got.map(_._2) == Seq(1L, 2L))
    assert(got(1)._3 <= 1e-6) // everything covered at distance ~0
  }
}
