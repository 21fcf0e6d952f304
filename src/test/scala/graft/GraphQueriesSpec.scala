package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.query.GraphQueries

/** Scale shape of the link-suggestion query (round-8 verdict #1): the
  * focused CLI ask ("who should this entity know") must pay for the
  * entity's 2-hop frontier, not the whole graph's wedge aggregation —
  * and must return exactly the rows the unfocused plan would have
  * filtered down to.
  */
class GraphQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Entity graph from sf0.001 lineitem co-occurrence: enough structure
    * for non-trivial Adamic-Adar scores without toy-fixture bias. */
  private def entityEdges(): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .limit(400)
      .select(lit("P").as("src_type"), col("l_partkey").cast("string").as("src_id"),
        lit("S").as("dst_type"), col("l_suppkey").cast("string").as("dst_id"),
        lit("SUPPLIED_BY").as("rel_type"))

  private def rows(df: DataFrame): Seq[(String, String, String, String, Long, Double)] =
    df.collect().map(r => (r.getAs[String]("a_type"), r.getAs[String]("a_id"),
      r.getAs[String]("b_type"), r.getAs[String]("b_id"),
      r.getAs[Long]("n_common"), r.getAs[Double]("adamic_adar"))).toSeq

  test("focused suggestions equal the unfocused plan filtered to the entity") {
    val edges = entityEdges()
    // pick an entity that actually has suggestions in the unfocused list
    val all = rows(GraphQueries.linkSuggestions(edges, topK = Int.MaxValue))
    assert(all.nonEmpty)
    val (ft, fid) = (all.head._1, all.head._2)
    val wantForEntity = all.filter(r =>
      (r._1 == ft && r._2 == fid) || (r._3 == ft && r._4 == fid)).take(20)
    val got = rows(GraphQueries.linkSuggestions(edges,
      forEntity = Some((ft, fid)), topK = 20))
    assert(got == wantForEntity,
      s"focused rows diverged from unfocused-filtered rows for $ft:$fid")
  }

  test("focused plan seeds from the neighbor frontier, not the full wedge set") {
    // The regression this pins: the focus filter used to sit ABOVE the
    // all-pairs wedge aggregation. Now the entity-key filter must only
    // appear BELOW any aggregate (seeding the frontier on the scan
    // side); a Filter mentioning the key with an Aggregate beneath it
    // would mean the whole graph was aggregated first and filtered
    // after.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
    val edges = entityEdges()
    val someId = edges.select("src_id").head().getString(0)
    val key = s"1:P$someId" // mkKey("P", id) — length-prefixed composite
    val focused = GraphQueries.linkSuggestionPlan(edges,
      forEntity = Some(("P", someId)), relType = None, topK = 20)
    val plan: LogicalPlan = focused.queryExecution.optimizedPlan
    val postAggKeyFilters = plan.collect {
      case f: Filter if f.condition.toString.contains(key) &&
          f.child.collectFirst { case a: Aggregate => a }.isDefined => f
    }
    assert(postAggKeyFilters.isEmpty,
      s"focus key is filtered above an aggregate (full-graph wedge):\n$plan")
    // and the key DOES appear as a frontier seed below the aggregates
    assert(plan.collectFirst {
      case f: Filter if f.condition.toString.contains(key) => f
    }.isDefined, "focused plan never filters on the entity key at all")
  }

  test("no unconditional broadcast hint on the degree frame") {
    // Round-8 verdict #1a: broadcast(deg) forced a one-row-per-node
    // frame into every executor regardless of size — at 100x the node
    // count that's an OOM. The logical plan must carry NO user hint;
    // whether to broadcast is AQE's runtime call.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val edges = entityEdges()
    val hints = GraphQueries.linkSuggestionPlan(edges, None, None, topK = 20)
      .queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"forced join hints remain: $hints")
  }

  test("entity-graph asks stay within their job budgets on the CRM fixture") {
    // The CRM entity graph sits under the LocalGate edge gate, so the
    // hop / relaxation / rank rounds run as driver twins, and the answer
    // is sorted on the driver (LocalEval). Budgets are the
    // measured counts: the counted cut's two jobs (shuffle stage and the
    // counting result job) and one collect. The per-round loops take
    // 21, 48 and 15 jobs for the same asks, and a distributed sort of
    // the answer 3 more, so falling back to either fails here. The edge
    // table is materialized first so only the ask counts.
    val g = Pipeline.transformAll(
      CrmFixture.usersRaw(spark), CrmFixture.contactsRaw(spark),
      CrmFixture.companiesRaw(spark), CrmFixture.dealsRaw(spark),
      CrmFixture.engagementsRaw(spark), CrmFixture.emailEventsRaw(spark),
      CrmFixture.formsRaw(spark))
    val edges = g.edges.localCheckpoint()
    val asks = Seq(
      ("neighborhood", () => GraphQueries.neighborhood(edges, "HUBSPOT_Contact", "c1", 2), 3),
      ("shortestPath", () => GraphQueries.shortestPath(edges, "HUBSPOT_Contact", "c1"), 3),
      ("influenceRanking", () => GraphQueries.influenceRanking(edges, Some("OWNED_BY"), 10), 3))
    for ((name, ask, budget) <- asks) {
      var rows = 0
      val jobs = TestSpark.jobsDuring { rows = ask().collect().length }
      info(s"$name: $jobs jobs, $rows rows")
      assert(rows > 0, s"$name returned nothing")
      assert(jobs <= budget, s"$name launched $jobs jobs, budget $budget")
    }
  }
}
