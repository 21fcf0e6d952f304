package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.SuffixSpans

/** The endpos-counting suffix automaton: per-document (span, cnt)
  * emission must equal the naive all-positions slice count, stay
  * duplicate-free and sorted, and handle degenerate inputs. */
class SuffixSpansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Naive reference: count every start position per distinct slice. */
  private def naive(s: String, l: Int): Map[String, Long] =
    (0 to s.length - l).map(i => s.substring(i, i + l))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  private def evalSpans(s: String, l: Int): Seq[(String, Long)] = {
    val e = SuffixSpans(
      org.apache.spark.sql.catalyst.expressions.Literal("ignored"), l)
    val arr = e.nullSafeEval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
    (0 until arr.numElements()).map { i =>
      val row = arr.getStruct(i, 2)
      (row.getUTF8String(0).toString, row.getLong(1))
    }
  }

  test("equals the naive slice count on adversarial strings") {
    for (s <- Seq("aaaaaa", "abababab", "abcabcabc", "abcd", "banana",
        "mississippi", "xy");
        l <- Seq(1, 2, 3, 4)) {
      val got = evalSpans(s, l)
      assert(got.toMap == naive(s, l), s"'$s' L=$l")
      assert(got.map(_._1).distinct.size == got.size, s"dupes in '$s' L=$l")
      assert(got.map(_._1) == got.map(_._1).sorted, s"order in '$s' L=$l")
    }
  }

  test("shorter-than-L input emits an empty array") {
    assert(evalSpans("abc", 4).isEmpty)
    assert(evalSpans("", 1).isEmpty)
  }

  test("dataframe path equals the naive count on real docs") {
    Graft.install(spark)
    val rows = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("substring(regexp_replace(" +
        graft.operators.Curation.NormSql +
        ", '[^\\\\x00-\\\\x7f]', ''), 1, 120)").as("a"))
      .filter(length(col("a")) >= 4)
      .select(col("a"), expr("suffix_spans(a, 4)").as("sp"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getString(0)
      val got = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(got == naive(a, 4), s"'${a.take(50)}...'")
    }
  }

  test("non-constant or null length rejected at build") {
    Graft.install(spark)
    val e1 = intercept[Exception] {
      spark.sql("SELECT suffix_spans('ab', id) FROM VALUES (1) AS v(id)").collect()
    }
    assert(e1.getMessage.contains("constant"), e1.getMessage)
  }
}
