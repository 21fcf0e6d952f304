package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Lineage.CutOps

/** Distributed greedy weighted matching — Preis's locally-dominant-edge
  * algorithm (STACS 1999), the parallel form of sort-edges-and-take
  * greedy: an edge whose (weight, u, v) rank beats every edge incident
  * to EITHER endpoint is locally dominant; all locally dominant edges
  * can match simultaneously (they are vertex-disjoint by definition),
  * their endpoints drop out, and the survivors repeat. Under a TOTAL
  * edge order the result is exactly the sequential greedy matching
  * (each greedy pick is locally dominant when it is taken), so the
  * output carries greedy's 1/2-approximation guarantee to maximum
  * weight — and is deterministic on any engine and partitioning.
  *
  * The matching/assignment primitive (pair reviewers to documents,
  * consolidate duplicate pairs, cap per-entity fan-out) without the
  * auction algorithm's O(max_value / eps) price war — rounds here are
  * O(log m) expected, each ONE max-per-endpoint aggregate + one join.
  *
  * Scale shape per round: endpoint-keyed max (map-side combinable),
  * edges join their endpoints' champions, survivors anti-join matched
  * nodes; round frames lineage-cut.
  */
object Matching {

  /** Greedy maximum-weight matching of (u, v, w) edges (self-loops
    * dropped, duplicate/reversed edges deduplicated keeping max w;
    * total order (w desc, u, v)). Returns matched edges.
    *
    * Below `localThreshold` deduped edges (and integral column types)
    * the rounds run on the driver as the sequential sort-and-take
    * greedy — the EXACT algorithm the distributed rounds provably
    * equal (see scaladoc; MatchingSpec pins the equality), so the
    * output is row-identical. Rationale (r16, the [[Components]] /
    * pageRank size-gate discipline): each distributed round costs a
    * fixed number of Spark jobs, which dominates wall-clock whenever
    * the graph is an aggregated ENTITY graph (here: nations) that
    * stays small no matter how large the fact data deriving it grows —
    * the heavy derivation join stays fully distributed, only the
    * iteration collapses under the gate. Measured: g_greedy_matching
    * ran 95 jobs totalling 1.8 s of work inside 4.5-5.5 s wall on a
    * ~300-edge graph. 0 disables the gate. */
  def greedy(edges: DataFrame, maxRounds: Int = 128,
      localThreshold: Long = LocalGate.DefaultRows): DataFrame = {
    val deduped = edges.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"), col("w"))
      .groupBy("u", "v").agg(max("w").as("w"))
    val integral = {
      import org.apache.spark.sql.types._
      deduped.schema.fields.forall(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    }
    var cur = LocalGate.cut(deduped, localThreshold, integral) match {
      case Right(cut) => return localGreedy(cut)
      case Left(cp) => cp
    }
    var matched: DataFrame = null
    var round = 0
    var remaining = cur.count()
    while (remaining > 0) {
      round += 1
      require(round <= maxRounds,
        s"greedy matching: $remaining edges after $maxRounds rounds")
      // rank key: higher w wins, ties to the lexicographically least
      // (u, v) — encode as an orderable struct, take per-endpoint max
      val keyed = cur.withColumn("k",
        struct(col("w"), (-col("u")).as("nu"), (-col("v")).as("nv")))
      val champ = keyed
        .select(explode(array(col("u"), col("v"))).as("node"), col("k"))
        .groupBy("node").agg(max("k").as("best"))
      val dominant = keyed
        .join(champ.select(col("node").as("u"), col("best").as("bu")), Seq("u"))
        .join(champ.select(col("node").as("v"), col("best").as("bv")), Seq("v"))
        .filter(col("k") === col("bu") && col("k") === col("bv"))
        .select("u", "v", "w")
        .cutLineage()
      matched = if (matched == null) dominant
        else matched.unionByName(dominant)
      val taken = dominant.select(col("u").as("node"))
        .union(dominant.select(col("v"))).distinct()
      cur = cur
        .join(taken.select(col("node").as("u")), Seq("u"), "left_anti")
        .join(taken.select(col("node").as("v")), Seq("v"), "left_anti")
        .select("u", "v", "w")
        .cutLineage()
      remaining = cur.count()
    }
    if (matched == null)
      edges.sparkSession.range(0)
        .select(lit(0L).as("u"), lit(0L).as("v"), lit(0L).as("w"))
    else matched
  }

  /** The sequential sort-and-take greedy over the gated cut's rows,
    * each matched edge answered as its cut row, under the schema the
    * rounds select over the cut's empty relation. */
  private def localGreedy(cut: LocalGate.Cut): DataFrame = {
    val (u, v, w) = (cut.column("u"), cut.column("v"), cut.column("w"))
    val long: Any => Long = _.asInstanceOf[Number].longValue
    val taken = scala.collection.mutable.Set.empty[Long]
    val matched = cut.rows.sortBy(r => (-long(w(r)), long(u(r)), long(v(r)))).filter { r =>
      val (a, b) = (long(u(r)), long(v(r)))
      !taken(a) && !taken(b) && { taken += a; taken += b; true }
    }
    cut.answer(cut.empty.select("u", "v", "w").schema, matched)
  }
}
