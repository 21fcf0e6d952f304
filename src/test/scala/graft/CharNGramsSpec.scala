package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The native CharNGrams expression: equivalence with the declarative
  * sequence+substring form, codegen path, and edge cases. */
class CharNGramsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches the declarative transform(sequence) form on real documents") {
    Graft.install(spark)
    val docs = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), lower(col("text")).as("s"))
    val mismatches = docs
      .withColumn("native", expr("char_ngrams(s, 5)"))
      .withColumn("declarative",
        expr("transform(sequence(1, greatest(length(s) - 4, 1)), i -> substring(s, i, 5))"))
      .filter(not(col("native") <=> col("declarative")))
      .count()
    assert(mismatches == 0)
  }

  test("unicode counts chars not bytes; short/null inputs") {
    Graft.install(spark)
    val got = Seq(("ab", 1), ("日本語テスト", 2), (null, 3))
      .toDF("s", "id")
      .select(col("id"), expr("char_ngrams(s, 3)").as("g"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1)).map(_.toString)).toMap
    assert(got(1) == Some("ArraySeq()"))          // shorter than n -> empty
    assert(got(2).get.contains("日本語"))          // char-based slicing
    assert(got(3).isEmpty)                        // null in -> null out
  }

  test("survives wholestage codegen in an aggregation pipeline") {
    Graft.install(spark)
    val n = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(expr("char_ngrams(text, 4)")).as("g"))
      .groupBy("g").count().count()
    assert(n > 500) // sf0.001 documents yield ~980 distinct 4-grams
  }
}
