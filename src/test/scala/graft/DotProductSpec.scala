package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.DotProduct

/** The native DotProduct expression: must be value-identical to the
  * declarative aggregate(zip_with(...)) fold (same left-to-right
  * accumulation), read float and double arrays interchangeably (the cast
  * is exact), survive codegen, and match the fold's null semantics. */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The declarative twin the catalog used before the native kernel. */
  private def fold(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (p, q) -> p * q), 0D, (acc, v) -> acc + v)")

  test("bit-identical to the declarative fold on real embeddings") {
    Graft.install(spark)
    val e = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding, x -> CAST(x AS double))").as("dv"))
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("av"), col("dv").as("ad"))
      .crossJoin(e.limit(5).select(col("vec_id").as("b_id"), col("embedding").as("bv"),
        col("dv").as("bd")))
    // float x float, float x double, double x double must all equal the
    // double-array fold bit-for-bit (no rounding tolerance).
    val mismatches = pairs
      .withColumn("direct", fold("ad", "bd"))
      .withColumn("ff", expr("dot_product(av, bv)"))
      .withColumn("fd", expr("dot_product(av, bd)"))
      .withColumn("dd", expr("dot_product(ad, bd)"))
      .filter(not(col("ff") <=> col("direct")) ||
        not(col("fd") <=> col("direct")) ||
        not(col("dd") <=> col("direct")))
      .count()
    assert(mismatches == 0)
  }

  test("null array, null element, and length mismatch all yield NULL") {
    Graft.install(spark)
    val rows = Seq(
      (1, Seq[java.lang.Double](1d, 2d), Seq[java.lang.Double](3d, 4d)),   // 11.0
      (2, null, Seq[java.lang.Double](3d, 4d)),                            // null array
      (3, Seq[java.lang.Double](1d, null), Seq[java.lang.Double](3d, 4d)), // null element
      (4, Seq[java.lang.Double](1d, 2d, 5d), Seq[java.lang.Double](3d, 4d)) // mismatch
    ).toDF("id", "a", "b")
    val got = rows.select(col("id"), expr("dot_product(a, b)").as("dp"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(got(1) == Some(11.0))
    assert(got(2).isEmpty && got(3).isEmpty && got(4).isEmpty)
    // and the fold agrees on every case
    val foldGot = rows.select(col("id"), fold("a", "b").as("dp"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(foldGot == got)
  }

  test("interpreted eval equals codegen result") {
    Graft.install(spark)
    val df = Seq((Seq(1.5d, -2d, 0.25d), Seq(4d, 0.5d, 8d))).toDF("a", "b")
    val viaCodegen = df.select(expr("dot_product(a, b)")).head.getDouble(0)
    val interpreted = DotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.5d, -2d, 0.25d), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(4d, 0.5d, 8d), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))).eval(null)
    assert(viaCodegen == 1.5 * 4 + -2 * 0.5 + 0.25 * 8)
    assert(interpreted == viaCodegen)
  }

  test("property: random double arrays agree with the fold bit-for-bit") {
    import org.scalacheck.Gen
    Graft.install(spark)
    // magnitudes spanning subnormal-adjacent to large, mixed signs —
    // accumulation-order bugs or a float detour would show here
    val v = Gen.chooseNum(-1e12, 1e12).flatMap(m => Gen.oneOf(m, m * 1e-9))
    val arrGen = Gen.chooseNum(0, 65).flatMap(n => Gen.listOfN(n, v))
    val samples = Gen.listOfN(150, Gen.zip(arrGen, arrGen)).sample.get
      .map { case (a, b) => (a.toArray, b.take(a.length).toArray ++
        Array.fill(math.max(a.length - b.length, 0))(1.0)) } // equal lengths
    val df = samples.zipWithIndex
      .map { case ((a, b), i) => (i, a.toSeq, b.toSeq) }.toDF("id", "a", "b")
    val bad = df.withColumn("native", expr("dot_product(a, b)"))
      .withColumn("direct", fold("a", "b"))
      .filter(not(col("native") <=> col("direct")))
      .count()
    assert(bad == 0)
  }

  test("non-array input is rejected at analysis") {
    Graft.install(spark)
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b").select(expr("dot_product(a, b)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("dot_product") ||
      err.getMessage.contains("ARRAY"))
  }
}
