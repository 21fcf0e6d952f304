package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-join cardinality + strategy advisor — the decision Catalyst's CBO
  * makes from table statistics, surfaced as a queryable, auditable
  * operator: profile each side's join key (row count, distinct count —
  * exact AND KMV-estimated — and the hottest key's frequency), estimate
  * the equi-join output with the System-R containment formula
  * |A ⋈ B| ≈ |A|·|B| / max(d_A, d_B), and pick a physical strategy:
  *
  *   broadcast       — smaller side fits the broadcast budget (the
  *                     measured win in j2_broadcast_dim's degrade path);
  *   shuffle_salted  — a side's hottest key carries ≥ `skewFactor`× the
  *                     mean per-key load, so a plain hash join would
  *                     straggle on one task (the planted-skew regime
  *                     SCALE.md §2g measured; salting/AQE-skew is the fix);
  *   shuffle         — otherwise: plain hash-partitioned join.
  *
  * Every profile is aggregation-only (groupBy key → 1-row fold): two
  * exchanges per side, nothing driver-side — the 1-row profiles compose
  * in-plan via the broadcast scalar-fold pattern. The KMV estimate
  * (k smallest 48-bit md5 hashes, integer-exact estimator — the
  * a_kmv_distinct sketch) is what a fleet-scale advisor would read from
  * sketch sidecars instead of re-scanning; `dist_exact` rides along as
  * the honesty column, and the strategy rule consumes the ESTIMATE, so
  * a green oracle row proves the sketch-driven decision, not just the
  * exact one. Thresholds are compared in pure BIGINT — no float seam.
  */
object JoinAdvisor {

  /** Decision thresholds. `broadcastRows`: max row count the planner
    * will ship to every executor. `skewFactor`: hottest-key multiple of
    * the mean per-key frequency that flags a straggler. */
  final case class Config(broadcastRows: Long = 5000L, skewFactor: Long = 8L,
      k: Int = 16)

  private val Shift48 = 281474976710656L // 2^48

  /** 1-row key profile: rows, dist_exact, dist_est (KMV), max_freq.
    * Null keys are dropped (they never match an equi-join). The side
    * must be non-empty. */
  def keyProfile(df: DataFrame, key: String, k: Int = 16): DataFrame = {
    val perKey = df.filter(col(key).isNotNull)
      .groupBy(col(key).cast("string").as("jk"))
      .agg(count(lit(1)).as("c"))
    val hashed = perKey.withColumn("h",
      expr("CAST(conv(substring(md5(jk), 1, 12), 16, 10) AS BIGINT)"))
    val kth = hashed.select("h").orderBy("h").limit(k)
      .agg(max("h").as("kth"), count(lit(1)).as("k_have"))
    hashed
      .agg(sum("c").cast("long").as("rows"),
        count(lit(1)).as("dist_exact"),
        max("c").cast("long").as("max_freq"))
      .crossJoin(kth) // 1 row x 1 row
      .withColumn("dist_est",
        when(col("k_have") < k, col("dist_exact"))
          .otherwise(expr(s"(${k - 1} * ${Shift48}L) div kth")))
      .select("rows", "dist_exact", "dist_est", "max_freq")
  }

  /** One advisory row for the equi-join `a.keyA = b.keyB`: both
    * profiles, the containment estimate, the exact join cardinality
    * (honesty column + integer-ppm error), and the chosen strategy.
    * Entirely in-plan: 1-row aggregates composed by cross join. */
  def advise(name: String, a: DataFrame, keyA: String, b: DataFrame,
      keyB: String, cfg: Config = Config()): DataFrame = {
    def tag(p: DataFrame, t: String) =
      p.columns.foldLeft(p)((d, c) => d.withColumnRenamed(c, s"${c}_$t"))
    val pa = tag(keyProfile(a, keyA, cfg.k), "a")
    val pb = tag(keyProfile(b, keyB, cfg.k), "b")
    val exact = a.join(b, a(keyA) === b(keyB))
      .agg(count(lit(1)).cast("long").as("exact_out"))
    pa.crossJoin(pb).crossJoin(exact)
      .withColumn("est_out",
        expr("(rows_a * rows_b) div greatest(dist_est_a, dist_est_b)"))
      .withColumn("err_ppm",
        expr("(1000000 * abs(est_out - exact_out)) div exact_out"))
      .withColumn("strategy",
        when(least(col("rows_a"), col("rows_b")) <= cfg.broadcastRows,
          lit("broadcast"))
          .when(col("max_freq_a") * col("dist_est_a") >=
              lit(cfg.skewFactor) * col("rows_a") ||
            col("max_freq_b") * col("dist_est_b") >=
              lit(cfg.skewFactor) * col("rows_b"),
            lit("shuffle_salted"))
          .otherwise(lit("shuffle")))
      .withColumn("join_name", lit(name))
      .select("join_name", "rows_a", "rows_b", "dist_exact_a", "dist_exact_b",
        "dist_est_a", "dist_est_b", "max_freq_a", "max_freq_b",
        "est_out", "exact_out", "err_ppm", "strategy")
  }

  /** Profile the join, then REGISTER the verdict with the session's
    * optimizer (graft.plans.AdvisedJoinHints): every subsequent
    * un-hinted equi-join on this key pair — in this Dataset chain or a
    * later SQL text — gets the advisor's physical strategy injected at
    * plan time. Profiling here uses [[keyProfile]] only (two
    * aggregation-only exchanges per side, one 4-long-row collect — no
    * exact-join honesty pass: the consumer is the planner, which reads
    * the estimate, exactly as the catalog row's strategy column does).
    * Returns the chosen strategy. */
  def adopt(a: DataFrame, keyA: String, b: DataFrame, keyB: String,
      cfg: Config = Config()): String = {
    def one(df: DataFrame) = df.collect()(0)
    val pa = one(keyProfile(a, keyA, cfg.k))
    val pb = one(keyProfile(b, keyB, cfg.k))
    def l(r: org.apache.spark.sql.Row, f: String) = r.getLong(r.fieldIndex(f))
    val strategy =
      if (math.min(l(pa, "rows"), l(pb, "rows")) <= cfg.broadcastRows) "broadcast"
      else if (l(pa, "max_freq") * l(pa, "dist_est") >= cfg.skewFactor * l(pa, "rows") ||
        l(pb, "max_freq") * l(pb, "dist_est") >= cfg.skewFactor * l(pb, "rows"))
        "shuffle_salted"
      else "shuffle"
    val smallKey = if (l(pa, "rows") <= l(pb, "rows")) keyA else keyB
    graft.plans.AdvisedJoinHints.register(a.sparkSession, keyA, keyB,
      strategy, smallKey)
    strategy
  }
}
