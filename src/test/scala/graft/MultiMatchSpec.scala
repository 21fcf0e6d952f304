package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.MultiMatch

/** The native Aho–Corasick expression: the single-pass automaton must
  * equal the naive per-needle overlapping count, report dictionary-
  * suffix-link matches, survive codegen, and reject bad vocabularies. */
class MultiMatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val needles = Seq("scan", "can", "an", "slow", "low", "spark", "par", "row", "a a")

  /** Naive overlapping count: every start position where the slice
    * equals the needle. */
  private def naive(s: String, nd: String): Long =
    if (s == null) 0L
    else (0 to s.length - nd.length).count(i => s.startsWith(nd, i)).toLong

  test("dictionary suffix links: one 'scan' reports scan, can, an") {
    Graft.install(spark)
    val row = Seq("scan").toDF("s")
      .select(expr(s"multi_match(s, ${needles.map("'" + _ + "'").mkString(", ")})").as("c"))
      .collect()(0).getSeq[Long](0)
    val got = needles.zip(row).toMap
    assert(got("scan") == 1 && got("can") == 1 && got("an") == 1)
    assert(got("slow") == 0 && got("row") == 0)
  }

  test("overlapping occurrences counted: 'a a a' has two 'a a'") {
    Graft.install(spark)
    val row = Seq("a a a").toDF("s")
      .select(expr("multi_match(s, 'a a')").as("c"))
      .collect()(0).getSeq[Long](0)
    assert(row == Seq(2L))
  }

  test("single pass equals the naive per-needle count on real docs (codegen path)") {
    Graft.install(spark)
    val ndl = needles.map("'" + _ + "'").mkString(", ")
    val docs = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(expr(graft.operators.Curation.NormSql).as("s"))
    val rows = docs
      .select(col("s"), expr(s"multi_match(s, $ndl)").as("c"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getString(0)
      val got = r.getSeq[Long](1)
      needles.zipWithIndex.foreach { case (nd, i) =>
        assert(got(i) == naive(s, nd), s"needle '$nd' on '${s.take(60)}...'")
      }
    }
  }

  test("interpreted eval matches codegen") {
    // Drive nullSafeEval directly (the codegen path is what the
    // DataFrame test above exercises) on the same adversarial strings.
    val mm = MultiMatch(
      org.apache.spark.sql.catalyst.expressions.Literal("ignored"), needles)
    for (s <- Seq("scan scans scanner", "a a a a", "sparkpark", "slowlow", "")) {
      val got = mm.nullSafeEval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .toLongArray()
      needles.zipWithIndex.foreach { case (nd, i) =>
        assert(got(i) == naive(s, nd), s"'$nd' in '$s'")
      }
    }
  }

  test("ASCII needles never match across multi-byte characters") {
    Graft.install(spark)
    // 'é' is 0xC3 0xA9 in UTF-8 — neither byte is ASCII 'a'/'n', but the
    // point is structural: a match of 'an' must not assemble from a
    // continuation byte plus 'n'.
    val row = Seq("ané an").toDF("s")
      .select(expr("multi_match(s, 'an')").as("c"))
      .collect()(0).getSeq[Long](0)
    assert(row == Seq(2L))
  }

  test("null in -> null out; bad vocabularies rejected at build") {
    Graft.install(spark)
    val got = Seq[(String, Int)]((null, 1)).toDF("s", "id")
      .select(expr("multi_match(s, 'x')").as("c")).collect()(0)
    assert(got.isNullAt(0))
    val e1 = intercept[Exception] {
      spark.sql("SELECT multi_match('ab', s) FROM VALUES ('x') AS v(s)").collect()
    }
    assert(e1.getMessage.contains("constant"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT multi_match('ab', 'x', 'x')").collect()
    }
    assert(e2.getMessage.contains("duplicate"), e2.getMessage)
  }
}
