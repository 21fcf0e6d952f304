package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The native suffix-automaton expression: the O(n) state count must
  * equal the naive all-slices distinct count on real docs and on
  * adversarial strings (all-equal, periodic, all-distinct). */
class SuffixDistinctSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def naive(s: String): Long =
    (for (i <- 0 until s.length; j <- i + 1 to s.length)
      yield s.substring(i, j)).distinct.size.toLong

  test("adversarial strings: unary, periodic, distinct, clone-heavy") {
    Graft.install(spark)
    val cases = Seq("aaaa", "abab", "abcd", "abcabcabc", "banana",
      "aabbaabb", "a", "zyxzyxz")
    val got = cases.toDF("s")
      .select(col("s"), expr("suffix_distinct(s)").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cases.foreach { s =>
      assert(got(s) == naive(s), s"'$s': automaton ${got(s)} != naive ${naive(s)}")
    }
  }

  test("automaton equals the naive distinct-slice count on real docs") {
    Graft.install(spark)
    val rows = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("substring(regexp_replace(lower(trim(text)), " +
        "'[^\\\\x00-\\\\x7f]', ''), 1, 64)").as("s"))
      .select(col("s"), expr("suffix_distinct(s)").as("d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(1) == naive(s), s"doc '${s.take(40)}...'")
    }
  }

  test("empty and null") {
    Graft.install(spark)
    val got = Seq(("", 1), (null, 2)).toDF("s", "id")
      .select(col("id"), expr("suffix_distinct(s)").as("d"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1) == Some(0L))
    assert(got(2).isEmpty)
  }
}
