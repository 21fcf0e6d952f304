package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule guarding the near-dup self-join pathology (SURVEY.md
  * §7.3 mechanism (c): a `Rule[LogicalPlan]` injected via
  * SparkSessionExtensions).
  *
  * A pairing self-join's sides are the SAME expensive subtree (shingle +
  * hash + aggregate/window) with different aliases on top. If the
  * optimizer (or AQE at runtime) broadcasts one side, that side becomes a
  * separate broadcast-exchange job: the expensive pipeline runs twice,
  * exchange reuse is impossible, and the broadcast job's parallelism
  * collapses (measured on x_minhash_lsh at sf0.1: 160 s broadcast plan vs
  * 4 s sort-merge). A sort-merge join on the shared key instead reuses
  * ONE exchange+sort for both sides — and is the only join that exists at
  * 100 TB, where neither side fits in a broadcast.
  *
  * The rule detects an un-hinted inner self-join whose two sides are
  * canonically the same plan beneath their top projections and contain an
  * Aggregate or Window, and pins both sides to SHUFFLE_MERGE. The catalog
  * queries also carry explicit `.hint("merge")` calls (they must behave
  * in un-extended sessions); the rule makes the protection ambient for
  * sessions launched with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object SelfJoinMergeHint extends Rule[LogicalPlan] {

  private def beneathProjections(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, child) => beneathProjections(child)
    case SubqueryAlias(_, child) => beneathProjections(child)
    case ResolvedHint(child, _) => beneathProjections(child)
    case other => other
  }

  private def expensive(p: LogicalPlan): Boolean = p.exists {
    case _: Aggregate => true
    case _: Window => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, _, JoinHint(None, None))
        if beneathProjections(l).canonicalized == beneathProjections(r).canonicalized &&
          expensive(l) =>
      val merge = Some(HintInfo(Some(SHUFFLE_MERGE)))
      j.copy(hint = JoinHint(merge, merge))
  }
}

/** Optimizer rule consuming [[graft.operators.JoinAdvisor]]'s verdicts —
  * SURVEY.md §4's "optional custom Rule", closing the loop the advisor
  * opened: j14 computes the sketch-driven broadcast/salt/shuffle pick as
  * an auditable row, and this rule is what makes a SESSION act on it.
  * The fleet-scale story: an offline advisor pass profiles the join keys
  * of recurring pipelines from sketch sidecars (the KMV estimate the
  * advisor already prefers over the exact count) and registers its
  * picks; every subsequent plan in the session gets the hint injected —
  * the decision Spark's CBO would make IF its stats were collected,
  * which at 100 TB they routinely are not (fresh parquet drops, no
  * ANALYZE pass, byte-stats that miss row-level skew).
  *
  * Matching is by join-KEY NAME PAIR on an un-hinted equi-join: the
  * registered (keyA, keyB) names must identify the join (schema
  * convention in every catalog table: keys are prefixed, o_custkey vs
  * c_custkey, so a pair names one join). Explicit user hints always win
  * — the rule only fills JoinHint(None, None).
  *
  * Strategy mapping:
  *   - `broadcast`      -> BROADCAST hint on the advisor's small side
  *                         (row-count-based: catches the small-rows/
  *                         fat-bytes dim that autoBroadcastJoinThreshold
  *                         refuses);
  *   - `shuffle_salted` -> SHUFFLE_MERGE on both sides: a skewed join
  *                         must be a sort-merge join, because AQE's
  *                         skew-join splitter (the runtime salting)
  *                         ONLY rewrites SortMergeJoinExec — pinning
  *                         merge is what guarantees the straggler fix
  *                         is applicable, and forecloses a
  *                         catastrophic broadcast/shuffled-hash pick;
  *   - `shuffle`        -> SHUFFLE_MERGE on both sides (plain
  *                         hash-partitioned merge join).
  */
object AdvisedJoinHints extends Rule[LogicalPlan] {

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}

  /** One registered verdict: the unordered key-name pair, the strategy
    * string the advisor emitted, and (for broadcast) the key name on
    * the small side. */
  final case class Advice(keys: Set[String], strategy: String, smallKey: String)

  /** Registry scoped PER SESSION (round-12 advice): advice adopted in
    * one SparkSession must not leak into another session's plans —
    * two sessions of one JVM can legitimately join same-named keys
    * from different tables with opposite profiles, and fleet advice
    * registered by a long-lived service session must not outlive that
    * session. Weak keys let a closed session's advice be collected
    * with it (the in-JVM analogue of the TTL the advice asked for —
    * advice lifetime IS session lifetime). */
  private val advices = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[Set[String], Advice]]())

  /** Register an advisor verdict for ONE session (see
    * JoinAdvisor.adopt). Key names must differ — the pair is matched
    * unordered against both join sides. */
  def register(spark: SparkSession, keyA: String, keyB: String,
      strategy: String, smallKey: String): Unit = {
    require(keyA != keyB,
      s"AdvisedJoinHints: key names must be distinct, got '$keyA' twice")
    advices.synchronized {
      advices.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[Set[String], Advice]())
    }.put(Set(keyA, keyB), Advice(Set(keyA, keyB), strategy, smallKey))
  }

  /** Drop one session's advice. */
  def clear(spark: SparkSession): Unit =
    advices.synchronized { Option(advices.get(spark)).foreach(_.clear()) }

  /** The rule fires against the ACTIVE session's registry only — the
    * optimizer runs plan phases inside `SparkSession.withActive`, so
    * the thread-local names the session whose plan this is. */
  private def activeAdvices
      : Option[java.util.concurrent.ConcurrentHashMap[Set[String], Advice]] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(s => advices.synchronized { Option(advices.get(s)) })
      .filter(!_.isEmpty)

  override def apply(plan: LogicalPlan): LogicalPlan =
    activeAdvices match {
      case None => plan
      case Some(reg) => plan.transformUp {
        case j @ Join(l, _, _, Some(cond), JoinHint(None, None)) =>
          val pairs = cond.collect {
            case EqualTo(x: AttributeReference, y: AttributeReference) =>
              Set(x.name, y.name)
          }
          pairs.flatMap(p => Option(reg.get(p))).headOption match {
            case Some(ad) if ad.strategy == "broadcast" =>
              val bc = Some(HintInfo(Some(BROADCAST)))
              if (l.output.exists(_.name == ad.smallKey))
                j.copy(hint = JoinHint(bc, None))
              else j.copy(hint = JoinHint(None, bc))
            case Some(_) => // shuffle / shuffle_salted
              val merge = Some(HintInfo(Some(SHUFFLE_MERGE)))
              j.copy(hint = JoinHint(merge, merge))
            case None => j
          }
      }
    }
}

/** Session extension bundle: the self-join guard and advised-join
  * rules, the as-of join strategy and every native function of
  * [[graft.Graft.functions]], so `spark.sql(...)` sees them from the
  * first query. Activate with `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * or `withExtensions(new GraftExtensions)` on a session builder. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SelfJoinMergeHint)
    ext.injectOptimizerRule(_ => AdvisedJoinHints)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    graft.Graft.functions.foreach(ext.injectFunction)
  }
}
