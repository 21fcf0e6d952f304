package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN as a first-class operator — the full custom-operator
  * ladder (SURVEY.md §7.3 mechanism (c)): a logical plan node, a
  * planner [[SparkStrategy]], and a physical [[AsOfJoinExec]], wired
  * into a session either via [[GraftExtensions]] or by
  * [[graft.Graft.install]] (which [[AsOf.join]] calls).
  *
  * Semantics: for every left row, append the right row with the same
  * key and the greatest timestamp STRICTLY BEFORE the left timestamp
  * (left-outer: nulls when no such row). This is the point-in-time
  * lookup the reference's temporal layer answers per entity
  * (`query_temporal.py:75-133` — "state as of T"), generalized to a
  * whole-table join.
  *
  * Why a custom operator: Spark has no as-of join. The declarative
  * rewrites either range-join (explodes per candidate pair before the
  * per-key argmax) or interleave both streams through one window (the
  * `j11_asof_attr` shape — already good: one shuffle). This operator
  * keeps the one-shuffle plan but fuses the interleave+window+filter
  * into a single streaming merge pass per partition: both children are
  * hash-partitioned on the key and sorted by (key, ts) — the SAME
  * distribution/ordering contract SortMergeJoin declares, satisfied by
  * EnsureRequirements with exchanges/sorts only where needed — and the
  * merge holds exactly ONE buffered right row and one candidate (O(1)
  * memory, no window buffer, no row multiplication), which is the shape
  * that survives 100 TB: shuffle cost identical to SMJ, zero extra
  * state.
  *
  * Keys and timestamps must evaluate to 64-bit integers (BIGINT or
  * TIMESTAMP, which is micros-as-long internally); rows with NULL key
  * or timestamp are treated as 0 — filter them upstream.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTs: Expression,
    rightKey: Expression, rightTs: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]; everything else falls through. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: one streaming merge pass over co-partitioned,
  * (key, ts)-sorted children. Per partition it buffers ONE lookahead
  * right row and ONE candidate row — no hash table, no window frame.
  */
case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTs: Expression,
    rightKey: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Same contract as SortMergeJoin: cluster both children on the key… */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  /** …and sort each by (key, ts), so the merge is a single forward scan. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTs, right.output)
    val rightWidth = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val nullRight = new GenericInternalRow(rightWidth)
        // One-row lookahead into the right side (key/ts cached so the
        // underlying UnsafeRow can be reused by the iterator) …
        private var rRow: InternalRow = _
        private var rK = 0L
        private var rT = 0L
        // … and the current best candidate: the last right row consumed
        // for the key being merged (copied — it outlives the iterator's
        // row buffer).
        private var cand: InternalRow = _
        private var candKey = 0L

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rRow = rIter.next()
            rK = rk.eval(rRow).asInstanceOf[Long]
            rT = rt.eval(rRow).asInstanceOf[Long]
          } else rRow = null
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lK = lk.eval(l).asInstanceOf[Long]
          val lT = lt.eval(l).asInstanceOf[Long]
          // Consume right rows that are before (lK, lT). Rows of an
          // earlier key are dropped for good — left keys only grow, so
          // no later left row can need them. Rows of THIS key with a
          // strictly earlier ts become the candidate; ties on ts keep
          // the sort's last row of that ts.
          while (rRow != null && (rK < lK || (rK == lK && rT < lT))) {
            if (rK == lK) { cand = rRow.copy(); candKey = lK }
            advanceRight()
          }
          if (cand != null && candKey == lK) joined(l, cand)
          else joined(l, nullRight)
        }
      }
    }
  }
}

/** Public DataFrame API for the custom operator. */
object AsOf {

  /** As-of join `left` to `right` on `key`, matching the latest right
    * row with `right.ts < left.ts` (strict). Right columns come back
    * prefixed with `rightPrefix` (fresh attributes — the analyzer's
    * self-join disambiguation does not know custom nodes, so the API
    * guarantees collision-free output itself).
    */
  def join(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightPrefix: String = "r_"): DataFrame = {
    val spark = left.sparkSession
    graft.Graft.install(spark)
    val r = right.toDF(right.columns.map(rightPrefix + _): _*)
    def attr(df: DataFrame, name: String): Attribute =
      df.queryExecution.analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"as-of join: no column '$name'"))
    org.apache.spark.sql.graft.SqlShim.ofRows(spark,
      AsOfJoin(
        left.queryExecution.analyzed, r.queryExecution.analyzed,
        attr(left, key), attr(left, ts),
        attr(r, rightPrefix + key), attr(r, rightPrefix + ts)))
  }
}
