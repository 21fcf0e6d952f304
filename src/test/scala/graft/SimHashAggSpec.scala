package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** SimHashAgg (native TypedImperativeAggregate) semantics:
  *  - bit-for-bit equal to the declarative 63-sum majority formulation
  *    (the DuckDB oracle's shape) on real token data;
  *  - stable under repartitioning (exercises partial-aggregate merge);
  *  - identical inputs produce identical signatures, near-identical
  *    inputs land within a small hamming distance. */
class SimHashAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def declarative(toks: org.apache.spark.sql.DataFrame) = {
    val digits = toks.withColumn("h", md5(col("tok")))
      .select(Seq(col("doc_id")) ++
        (0 to 15).map(p =>
          expr(s"instr('0123456789abcdef', substring(h, ${p + 1}, 1)) - 1").as(s"d$p")): _*)
    val bitSums = (0 until 63).map(j =>
      sum(expr(s"CASE WHEN (shiftright(d${j / 4}, ${j % 4}) & 1) = 1 THEN 1 ELSE -1 END"))
        .as(s"s$j"))
    digits.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        expr((0 until 63).map(j => s"CASE WHEN s$j > 0 THEN ${1L << j}L ELSE 0L END")
          .mkString(" + ")).as("simhash"))
  }

  private val docs = Seq(
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("b", "the quick brown fox jumps over the lazy cat"), // 1 token differs
    ("c", "completely unrelated vocabulary about spark aggregates and buffers"),
    ("d", "the quick brown fox jumps over the lazy dog")  // exact dup of a
  ).toDF("doc_id", "text")

  private def toks = docs.select(col("doc_id"),
    explode(expr("array_distinct(split(text, ' '))")).as("tok"))

  test("matches the declarative 63-sum majority formulation") {
    Graft.install(spark)
    val got = toks.withColumn("h", md5(col("tok")))
      .groupBy("doc_id").agg(expr("simhash_agg(h)").as("simhash"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = declarative(toks)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("merge path: repartitioned input gives the same signatures") {
    Graft.install(spark)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("h", md5(col("tok")))
        .groupBy("doc_id").agg(expr("simhash_agg(h)").as("simhash"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run(toks.repartition(7)) == run(toks.coalesce(1)))
  }

  test("malformed input fails with a descriptive error, not an index crash") {
    Graft.install(spark)
    def runOn(tok: String) =
      Seq(("x", tok)).toDF("doc_id", "h")
        .groupBy("doc_id").agg(expr("simhash_agg(h)")).collect()
    val short = intercept[Exception] { runOn("abc") }
    assert(Option(short.getMessage).exists(_.contains("hex digest")) ||
      Option(short.getCause).flatMap(c => Option(c.getMessage)).exists(_.contains("hex digest")))
    val nonHex = intercept[Exception] { runOn("zzzzzzzzzzzzzzzzzzzz") }
    assert(Option(nonHex.getMessage).exists(_.contains("hex-digit")) ||
      Option(nonHex.getCause).flatMap(c => Option(c.getMessage)).exists(_.contains("hex-digit")))
    // nulls remain ignored, never counted as malformed
    val ok = Seq(("x", Option("0123456789abcdef0123456789abcdef")), ("x", None))
      .toDF("doc_id", "h")
      .groupBy("doc_id").agg(expr("simhash_agg(h)")).collect()
    assert(ok.length == 1)
  }

  test("signature geometry: dup identical, near-dup close, unrelated far") {
    Graft.install(spark)
    val sig = toks.withColumn("h", md5(col("tok")))
      .groupBy("doc_id").agg(expr("simhash_agg(h)").as("simhash"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(sig("a") == sig("d"))
    assert(hamming(sig("a"), sig("b")) < hamming(sig("a"), sig("c")))
    assert(sig("a") >= 0L) // 63-bit signature stays in signed range
  }
}
