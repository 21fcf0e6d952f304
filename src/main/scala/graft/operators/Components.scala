package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage.CutOps

/** Distributed connected components over an undirected edge list —
  * the clustering step of a near-duplicate dedup pipeline: near-dup
  * similarity is NOT transitive, so "keep one doc per duplicate
  * group" means one doc per connected component of the pair graph
  * (reference capability: `utils/change_detector.py` dedups by exact
  * hash; this is the graph generalization the M6 near-dup operators
  * feed).
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round every node takes the minimum label among itself and its
  * neighbors (one hop), then labels are compressed one level
  * (`comp := label(comp)` — path halving), which turns the O(diameter)
  * naive propagation into O(log n) rounds. All state lives in
  * DataFrames keyed by node — every round is two shuffles on the same
  * key (neighbor join + label-compression self-join), the shape that
  * scales to billions of edges. Convergence is detected with an
  * aggregate-only count (no driver-side row collection), and lineage
  * is truncated each round via [[Lineage.cut]] (reliable `checkpoint()`
  * when a checkpoint dir is configured, `localCheckpoint()` otherwise).
  */
object Components {

  /** Component label per node: `(node, comp)` where `comp` is the
    * minimum node id in the node's connected component. Nodes only
    * appear if they occur in `edges`; union isolated nodes afterwards
    * (their component is themselves).
    *
    * @param edges      undirected edge list; one row per edge
    * @param src        source-node column name
    * @param dst        destination-node column name
    * @param maxIter    hard round cap (propagation is O(log n) rounds)
    * @param checkEvery probe convergence only every this many rounds.
    *                   Labels decrease monotonically, so a late probe is
    *                   always safe — at worst the loop runs one spare
    *                   propagation round; at cluster scale each skipped
    *                   probe is one whole Spark job saved per round
    *                   (round-3 verdict #5). 1 = probe every round.
    * @param localThreshold if the deduped symmetric edge set has at most
    *                   this many rows (and integral node ids), solve with
    *                   a driver-side union-find in ONE job instead of the
    *                   iterative loop — the same size-gated
    *                   strategy-selection principle as the broadcast-join
    *                   gate: a near-dup pair graph is typically orders of
    *                   magnitude smaller than its corpus, and each loop
    *                   round costs 2 shuffles + a checkpoint. 0 disables
    *                   the local path.
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 25, checkEvery: Int = 2,
      localThreshold: Long = LocalGate.DefaultRows): DataFrame = {
    // Symmetrize once: propagation below is directional along (s -> d).
    val symPlan = edges.select(col(src).as("s"), col(dst).as("d"))
      .union(edges.select(col(dst).as("s"), col(src).as("d")))
      .filter(col("s") =!= col("d"))
      .distinct()
    val integralIds = symPlan.schema.fields.forall(_.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    })
    val sym = LocalGate.cut(symPlan, localThreshold, integralIds) match {
      case Right(cut) => return localUnionFind(cut)
      case Left(cp) => cp
    }
    var labels = initialLabels(sym).cutLineage()
    var iter = 0
    var converged = false
    val gc = new Lineage.RoundGc(edges.sparkSession)
    while (iter < maxIter && !converged) {
      val jumped = hopAndJump(sym, labels).cutLineage()
      // Convergence = a full round changed nothing: then the hop was
      // already stable, i.e. every node's label <= all its neighbors'
      // labels, which across each edge in both directions means the
      // labels agree — the fixpoint. (Checked with a limit-1 existence
      // job, not a collect of node rows; probed only every `checkEvery`
      // rounds and on the final capped round.)
      iter += 1
      if (iter % checkEvery == 0 || iter == maxIter)
        converged = jumped
          .join(labels.select(col("node"), col("comp").as("prev")), Seq("node"))
          .filter(col("comp") =!= col("prev"))
          .isEmpty
      labels = jumped
      gc.endRound()
    }
    labels
  }

  /** Every node of the symmetric edge frame labeled with itself. */
  private def initialLabels(sym: DataFrame): DataFrame =
    sym.select(col("s").as("node")).distinct().withColumn("comp", col("node"))

  /** One propagation round over `labels`. Hop: the min label among the
    * node itself and its neighbors. Jump: compress one pointer level
    * (comp := label(comp)); labels only ever decrease, so
    * label(comp) <= comp and `least` is safe. */
  private def hopAndJump(sym: DataFrame, labels: DataFrame): DataFrame = {
    val neighborMin = sym
      .join(labels.select(col("node").as("d"), col("comp").as("ncomp")), Seq("d"))
      .groupBy(col("s").as("node"))
      .agg(min("ncomp").as("nmin"))
    val hopped = labels.join(neighborMin, Seq("node"), "left")
      .select(col("node"), least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
    hopped
      .join(hopped.select(col("node").as("comp"), col("comp").as("ccomp")), Seq("comp"), "left")
      .select(col("node"), least(col("comp"), coalesce(col("ccomp"), col("comp"))).as("comp"))
  }

  /** Driver-side union-find over a small (size-gated) symmetric edge
    * cut — result is row-identical to the iterative fixpoint: every node
    * labeled with the minimum id of its component. Path compression
    * keeps it effectively linear at the gated sizes.
    *
    * Ids keep the INPUT id type and the schema is one loop round's over
    * the cut's empty relation: the gate admits IntegerType edges, and
    * the output schema must not depend on which side of the size gate
    * the data landed — that would break schema-sensitive consumers
    * (unionByName, strict Dataset decoding) non-deterministically with
    * data volume. */
  private def localUnionFind(cut: LocalGate.Cut): DataFrame = {
    val (s, d) = (cut.column("s"), cut.column("d"))
    val long: Any => Long = _.asInstanceOf[Number].longValue
    val back: Long => Any =
      if (cut.dataType("s") == org.apache.spark.sql.types.IntegerType) _.toInt else identity
    val pairs = cut.rows.map(r => (long(s(r)), long(d(r))))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min root wins -> label = component minimum
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val e = cut.empty
    cut.answer(hopAndJump(e, initialLabels(e)).schema, parent.keys.toIndexedSeq.map(k =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array(back(k), back(find(k))))))
  }
}
