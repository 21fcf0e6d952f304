package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.JoinAdvisor
import graft.plans.AdvisedJoinHints

/** AdvisedJoinHints: the optimizer rule that makes the session act on
  * JoinAdvisor's verdicts (round-11 verdict #3). The validated case is
  * the one the rule exists for: Spark's own byte-based stats pick the
  * slower plan and the advisor's row/skew profile overrides it — with
  * row parity between the hinted and unhinted plans asserted on every
  * case. */
class AdvisedJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withRule[T](body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      (prev :+ AdvisedJoinHints).distinct
    try body
    finally {
      spark.experimental.extraOptimizations = prev
      AdvisedJoinHints.clear(spark)
    }
  }

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("f_key"), col("f_val")).as[(Long, Long)].collect().toSet

  // a dim whose ROW count is broadcastable but whose byte stats exceed
  // what the session will auto-broadcast (threshold forced to -1: the
  // "fresh 100 TB parquet drop, no ANALYZE, fat rows" regime where
  // size-based stats refuse the broadcast a row-based profile would take)
  private def dim = (1 to 400).map(i => (i.toLong, s"d$i" * 50))
    .toDF("d_key", "d_name")
  private def fact = (1 to 20000).map(i => ((i % 400 + 1).toLong, i.toLong))
    .toDF("f_key", "f_val")

  test("broadcast advice flips a stats-blind sort-merge join to broadcast hash; rows identical") {
    withRule {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        def join() = fact.join(dim, col("f_key") === col("d_key"))
        val before = join()
        assert(physical(before).contains("SortMergeJoin"),
          s"stats-blind baseline must be a sort-merge join:\n${physical(before)}")
        val expect = rows(before)
        val strategy = JoinAdvisor.adopt(fact, "f_key", dim, "d_key",
          JoinAdvisor.Config(broadcastRows = 5000))
        assert(strategy == "broadcast")
        val after = join()
        assert(physical(after).contains("BroadcastHashJoin"),
          s"the injected hint must flip the physical join:\n${physical(after)}")
        assert(rows(after) == expect, "hinted plan must be row-identical")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("the hint lands on the SMALL side regardless of join order") {
    withRule {
      AdvisedJoinHints.register(spark, "f_key", "d_key", "broadcast",
        smallKey = "d_key")
      // dim on the LEFT: the BROADCAST hint must follow the small side
      val flipped = dim.join(fact, col("d_key") === col("f_key"))
      val p = physical(flipped)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(p.contains("BuildLeft"),
        s"dim is on the left, so the build side must be left:\n$p")
    }
  }

  test("planted skew: advisor says shuffle_salted, rule pins the AQE-splittable merge join") {
    withRule {
      // side A: one hot key carrying half the rows (the SCALE.md §2g
      // regime); side B: large-but-uniform — NO side is broadcastable
      // under the advisor's config, and a plain pick would straggle on
      // the hot key's one task
      val skewed = (1 to 20000).map(i =>
        (if (i % 2 == 0) 1L else (i % 9000 + 2).toLong, i.toLong))
        .toDF("f_key", "f_val")
      val other = (1 to 15000).map(i => (i.toLong, s"u$i")).toDF("d_key", "d_name")
      val strategy = JoinAdvisor.adopt(skewed, "f_key", other, "d_key",
        JoinAdvisor.Config(broadcastRows = 100, skewFactor = 8))
      assert(strategy == "shuffle_salted")
      val joined = skewed.join(other, col("f_key") === col("d_key"))
      // merge is the ONLY join AQE's skew splitter rewrites — pinning it
      // is what guarantees the runtime salting is applicable
      val p = physical(joined)
      assert(p.contains("SortMergeJoin"), p)
      val unhinted = rows(skewed.hint("merge").join(other,
        col("f_key") === col("d_key")))
      assert(rows(joined) == unhinted, "row parity with the unadvised plan")
    }
  }

  test("explicit user hints always win over the registry") {
    withRule {
      AdvisedJoinHints.register(spark, "f_key", "d_key", "broadcast",
        smallKey = "d_key")
      val userPinned = fact.join(dim.hint("merge"),
        col("f_key") === col("d_key"))
      assert(physical(userPinned).contains("SortMergeJoin"),
        "a user hint must not be overridden by the advisor registry")
    }
  }

  test("adopt agrees with the advisory row's strategy column") {
    // adopt recomputes the decision from keyProfile (skipping advise's
    // exact-join honesty pass); the two must never drift
    for ((a, ka, b, kb, cfg) <- Seq(
      (fact, "f_key", dim, "d_key", JoinAdvisor.Config(broadcastRows = 5000)),
      (fact, "f_key", dim, "d_key", JoinAdvisor.Config(broadcastRows = 10)),
      ((1 to 20000).map(i => (if (i % 2 == 0) 1L else (i % 9000 + 2).toLong,
        i.toLong)).toDF("f_key", "f_val"), "f_key",
        (1 to 15000).map(i => (i.toLong, s"u$i")).toDF("d_key", "d_name"),
        "d_key", JoinAdvisor.Config(broadcastRows = 100)))) {
      val advisory = JoinAdvisor.advise("x", a, ka, b, kb, cfg)
        .select("strategy").collect()(0).getString(0)
      val adopted = JoinAdvisor.adopt(a, ka, b, kb, cfg)
      AdvisedJoinHints.clear(spark)
      assert(adopted == advisory, s"adopt '$adopted' != advise '$advisory'")
    }
  }

  test("advice is session-scoped: another session's identical join is untouched") {
    withRule {
      AdvisedJoinHints.register(spark, "f_key", "d_key", "broadcast",
        smallKey = "d_key")
      val other = spark.newSession()
      other.experimental.extraOptimizations =
        other.experimental.extraOptimizations :+ AdvisedJoinHints
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      other.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // the SAME key names, joined in the OTHER session: the round-12
        // advice's leak case — a JVM-global registry would broadcast
        // this unrelated join on a name collision
        import other.implicits._
        val oDim = (1 to 400).map(i => (i.toLong, s"d$i" * 50))
          .toDF("d_key", "d_name")
        val oFact = (1 to 20000).map(i => ((i % 400 + 1).toLong, i.toLong))
          .toDF("f_key", "f_val")
        val p = oFact.join(oDim, col("f_key") === col("d_key"))
          .queryExecution.sparkPlan.toString
        assert(p.contains("SortMergeJoin"),
          s"advice registered in one session must not hint another's plan:\n$p")
        // while the registering session still gets its own hint
        val mine = physical(fact.join(dim, col("f_key") === col("d_key")))
        assert(mine.contains("BroadcastHashJoin"), mine)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}
