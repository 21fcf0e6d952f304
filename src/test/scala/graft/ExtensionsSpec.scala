package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, SHUFFLE_MERGE}
import graft.plans.{AsOfJoinStrategy, GraftExtensions, SelfJoinMergeHint}

/** The SelfJoinMergeHint optimizer rule (SURVEY.md §7.3 mechanism (c)),
  * applied directly to optimized plans here, and the native functions
  * and as-of strategy that `Graft.install` gives a session (the same
  * table `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * injects). */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A miniature near-dup shape: expensive (aggregated) subtree,
    * self-joined on the group key with different aliases per side. */
  private def selfJoin = {
    val base = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s"))
    val l = base.select(col("k"), col("s").as("s_l"))
    val r = base.select(col("k"), col("s").as("s_r"))
    l.join(r, Seq("k"))
  }

  test("rule pins both sides of an expensive self-join to SHUFFLE_MERGE") {
    val optimized = selfJoin.queryExecution.optimizedPlan
    val rewritten = SelfJoinMergeHint(optimized)
    val hints = rewritten.collect { case j: Join => j.hint }
    assert(hints.nonEmpty)
    assert(hints.forall { case JoinHint(lh, rh) =>
      lh.exists(_.strategy.contains(SHUFFLE_MERGE)) &&
        rh.exists(_.strategy.contains(SHUFFLE_MERGE))
    })
    // idempotent: a hinted join is left untouched on re-application
    assert(SelfJoinMergeHint(rewritten) == rewritten)
  }

  test("rule leaves non-self joins and cheap self-joins alone") {
    // different subtrees -> no hint
    val a = Seq(("a", 1)).toDF("k", "v").groupBy("k").agg(sum("v").as("s"))
    val b = Seq(("a", 9)).toDF("k", "w")
    val mixed = a.join(b, Seq("k")).queryExecution.optimizedPlan
    assert(SelfJoinMergeHint(mixed).collect { case j: Join => j.hint }
      .forall(_ == JoinHint(None, None)))
    // self-join over a plain scan (no aggregate/window) -> no hint
    val scan = Seq(("a", 1)).toDF("k", "v")
    val cheap = scan.select(col("k"), col("v").as("l"))
      .join(scan.select(col("k"), col("v").as("r")), Seq("k"))
      .queryExecution.optimizedPlan
    assert(SelfJoinMergeHint(cheap).collect { case j: Join => j.hint }
      .forall(_ == JoinHint(None, None)))
  }

  test("injected function builders resolve char_ngrams and simhash_agg") {
    // the bundle applies cleanly to a fresh extensions object (the
    // session-level path can't be exercised here: a default session
    // already exists and getOrCreate will not re-run extensions)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // the builders the bundle injects are the ones Graft.install registers
    Graft.install(spark)
    val out = spark.sql(
      "SELECT simhash_agg(md5(t)) AS sig, size(char_ngrams('abcdef', 3)) AS n " +
        "FROM VALUES ('x'), ('y') AS v(t)").collect()(0)
    assert(out.getLong(0) >= 0L && out.getInt(1) == 4)
  }

  test("Graft.install gives a fresh session every native function and the as-of strategy once") {
    val fresh = spark.newSession()
    val dot = "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS r"
    val missing = intercept[org.apache.spark.sql.AnalysisException](fresh.sql(dot))
    assert(missing.getMessage.contains("dot_product"), missing.getMessage)
    Graft.install(fresh)
    Graft.install(fresh)
    // one call per table entry, each resolved and run through spark.sql
    val calls = Map(
      "char_ngrams" -> "size(char_ngrams('abcdef', 3))",
      "dot_product" -> "dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))",
      "gk_quantile" -> "gk_quantile(n, 16)",
      "mg_topk" -> "mg_topk(t, 2)",
      "simhash_agg" -> "simhash_agg(md5(t))",
      "multi_match" -> "multi_match(t, 'x')",
      "multi_replace" -> "multi_replace(t, '_', 'x')",
      "rolling_hash" -> "rolling_hash('abcdefghij', 8)",
      "suffix_distinct" -> "suffix_distinct(t)",
      "suffix_lcs" -> "suffix_lcs(t, 'xy')",
      "suffix_spans" -> "suffix_spans(t, 1)")
    assert(calls.size == 11 && calls.keySet == Graft.functions.map(_._1.funcName).toSet)
    calls.values.foreach { call =>
      assert(fresh.sql(s"SELECT $call AS r FROM VALUES ('x', 1L), ('y', 2L) AS v(t, n)")
        .collect().nonEmpty, call)
    }
    assert(fresh.sql(dot).collect()(0).getDouble(0) == 11.0)
    assert(fresh.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
  }
}
