package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.SuffixLcs

/** The two-string automaton walk: LCS length must equal the naive
  * slice-set intersection on real docs and adversarial pairs. */
class SuffixLcsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Naive reference: longest L with a common length-L slice. */
  private def naive(a: String, b: String): Long = {
    val max = math.min(a.length, b.length)
    var l = max
    while (l >= 1) {
      val sa = (0 to a.length - l).map(i => a.substring(i, i + l)).toSet
      if ((0 to b.length - l).exists(j => sa(b.substring(j, j + l))))
        return l.toLong
      l -= 1
    }
    0L
  }

  test("equals the naive slice intersection on adversarial pairs") {
    val pairs = Seq(
      ("banana", "ananas"), ("abcdef", "ghijkl"), ("aaaa", "aa"),
      ("mississippi", "missouri"), ("xy", "yx"), ("abab", "baba"),
      ("same", "same"), ("", "abc"), ("abc", ""), ("a", "a"))
    pairs.foreach { case (a, b) =>
      val e = SuffixLcs(
        org.apache.spark.sql.catalyst.expressions.Literal(a),
        org.apache.spark.sql.catalyst.expressions.Literal(b))
      val got = e.nullSafeEval(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(got == naive(a, b), s"('$a', '$b')")
    }
  }

  test("dataframe path equals the naive intersection on real doc pairs") {
    Graft.install(spark)
    val rows = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("substring(regexp_replace(" +
        graft.operators.Curation.NormSql +
        ", '[^\\\\x00-\\\\x7f]', ''), 1, 40)").as("a"),
        col("doc_id"))
      .withColumn("b", lead("a", 1).over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      .filter(col("b").isNotNull)
      .select(col("a"), col("b"), expr("suffix_lcs(a, b)").as("lcs"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == naive(r.getString(0), r.getString(1)),
        s"'${r.getString(0).take(30)}' vs '${r.getString(1).take(30)}'")
    }
  }

  test("null propagates") {
    Graft.install(spark)
    val got = Seq[(String, String)]((null, "x")).toDF("a", "b")
      .select(expr("suffix_lcs(a, b)")).collect()(0)
    assert(got.isNullAt(0))
  }
}
