package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.MultiReplace

/** The native leftmost-longest replacement expression: the trie walk
  * must equal a naive reference rewrite, prefer longest at a shared
  * start, survive codegen, stay multi-byte safe, and reject bad
  * vocabularies. */
class MultiReplaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Naive reference: at each position take the longest matching
    * needle (leftmost-longest by construction), else copy one char. */
  private def naive(s: String, repl: String, needles: Seq[String]): (String, Seq[Long]) = {
    val counts = Array.fill(needles.length)(0L)
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val hits = needles.zipWithIndex.filter { case (nd, _) => s.startsWith(nd, i) }
      if (hits.nonEmpty) {
        val (nd, idx) = hits.maxBy(_._1.length)
        counts(idx) += 1
        sb.append(repl)
        i += nd.length
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    (sb.toString, counts.toSeq)
  }

  private val needles = Seq("the", "the ", "and ", "with ", "from ")

  test("longest wins at a shared start; leftmost wins overall") {
    Graft.install(spark)
    val rows = Seq("the theory and the end", "thethe the", "with from the ")
      .toDF("s")
      .select(expr(s"multi_replace(s, '_', ${needles.map("'" + _ + "'").mkString(", ")})").as("r"))
      .collect()
    val inputs = Seq("the theory and the end", "thethe the", "with from the ")
    rows.zip(inputs).foreach { case (r, s) =>
      val st = r.getStruct(0)
      val (expRew, expCnt) = naive(s, "_", needles)
      assert(st.getString(0) == expRew, s"rewrite of '$s'")
      assert(st.getSeq[Long](1) == expCnt, s"counts of '$s'")
    }
  }

  test("codegen path equals the naive rewrite on real docs") {
    Graft.install(spark)
    val ndl = needles.map("'" + _ + "'").mkString(", ")
    val rows = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(expr(graft.operators.Curation.NormSql).as("s"))
      .select(col("s"), expr(s"multi_replace(s, '[X]', $ndl)").as("r"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getString(0)
      val st = r.getStruct(1)
      val (expRew, expCnt) = naive(s, "[X]", needles)
      assert(st.getString(0) == expRew, s"rewrite of '${s.take(60)}...'")
      assert(st.getSeq[Long](1) == expCnt)
    }
  }

  test("interpreted eval matches the reference on adversarial strings") {
    val mr = MultiReplace(
      org.apache.spark.sql.catalyst.expressions.Literal("ignored"),
      "_", needles)
    for (s <- Seq("thethe ", "the the the", "withe", "fromthe ", "", "ttthe")) {
      val row = mr.nullSafeEval(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val gotRew = row.getUTF8String(0).toString
      val gotCnt = row.getArray(1).toLongArray().toSeq
      val (expRew, expCnt) = naive(s, "_", needles)
      assert(gotRew == expRew, s"'$s'")
      assert(gotCnt == expCnt, s"'$s'")
    }
  }

  test("multi-byte characters copy through untouched") {
    Graft.install(spark)
    val st = Seq("héllo the wörld the ").toDF("s")
      .select(expr("multi_replace(s, '*', 'the ')").as("r"))
      .collect()(0).getStruct(0)
    assert(st.getString(0) == "héllo *wörld *")
    assert(st.getSeq[Long](1) == Seq(2L))
  }

  test("replacement longer than the needle grows the buffer safely") {
    Graft.install(spark)
    val st = Seq("aaaa").toDF("s")
      .select(expr("multi_replace(s, 'LONGREPL', 'a')").as("r"))
      .collect()(0).getStruct(0)
    assert(st.getString(0) == "LONGREPL" * 4)
    assert(st.getSeq[Long](1) == Seq(4L))
  }

  test("null in -> null out; bad vocabularies rejected at build") {
    Graft.install(spark)
    val got = Seq[(String, Int)]((null, 1)).toDF("s", "id")
      .select(expr("multi_replace(s, '_', 'x')").as("r")).collect()(0)
    assert(got.isNullAt(0))
    val e1 = intercept[Exception] {
      spark.sql("SELECT multi_replace('ab', '_', s) FROM VALUES ('x') AS v(s)").collect()
    }
    assert(e1.getMessage.contains("constant"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT multi_replace('ab', '_', 'x', 'x')").collect()
    }
    assert(e2.getMessage.contains("duplicate"), e2.getMessage)
  }
}
