package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.SortLocalRelation

/** The local-sort optimizer rule: a global sort over a local relation is
  * evaluated on the driver, in exactly the order Spark's distributed
  * sort gives, and is installed once per session. */
class SortLocalRelationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a sorted, limited local relation collects with no job, in the distributed sort's order") {
    Graft.install(spark)
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("x", DoubleType), StructField("s", StringType)))
    // -0.0 equals 0.0 and NaN is the largest double; U+FFFF sorts before
    // U+1F600 in UTF-8 bytes but after it in String.compareTo
    val rows = Seq(Row(1, 0.0, "a"), Row(2, -0.0, "\uFFFF"), Row(3, Double.NaN, "\uD83D\uDE00"),
      Row(4, null, null), Row(5, 1.5, "\uD83D\uDE01"), Row(6, Double.NegativeInfinity, "b"),
      Row(7, Double.NaN, null), Row(8, null, "a"), Row(9, -0.0, "b"), Row(10, 0.0, "\uFFFF"))
    val local = spark.createDataFrame(java.util.List.of(rows: _*), schema)
    val distributed = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val orders = Seq(
      Seq(col("x").asc_nulls_first, col("id")),
      Seq(col("x").desc_nulls_last, col("id").desc),
      Seq(col("s").asc_nulls_last, col("x").desc_nulls_first, col("id")),
      Seq(col("s").desc_nulls_first, col("id")))
    for (order <- orders; limit <- Seq(None, Some(4))) {
      def ask(df: DataFrame): DataFrame =
        limit.fold(df.orderBy(order: _*))(df.orderBy(order: _*).limit(_))
      assert(ask(local).queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"$order limit $limit: ${ask(local).queryExecution.optimizedPlan}")
      var got: Seq[String] = Nil
      val jobs = TestSpark.jobsDuring { got = ask(local).collect().map(_.toString).toSeq }
      assert(jobs == 0, s"$order limit $limit launched $jobs jobs")
      assert(got == ask(distributed).collect().map(_.toString).toSeq, s"$order limit $limit")
    }
  }

  test("Graft.install adds the rule to a fresh session once") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraOptimizations.contains(SortLocalRelation))
    Graft.install(fresh)
    Graft.install(fresh)
    assert(fresh.experimental.extraOptimizations.count(_ == SortLocalRelation) == 1)
  }
}
