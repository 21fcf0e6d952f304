package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.CrmSchema
import graft.query.{GraphQueries => GQ, OwnershipQueries => OQ, ReportQueries => RQ,
  TemporalQueries => TQ}

/** The report mix the `Report` CLI serves and `crm_cycle` measures, over
  * a CRM state `Pipeline.run` loaded from the fixture: every ask answers
  * on the driver with one job per distinct narrow input, gives the
  * distributed plan's rows, and a second pass over the mix compiles no
  * generated class. */
class ReportAskSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (raw snapshot 2, state after snapshots 1 and 2): c1 changed title,
    * c3 was deleted, d1 lost its company association. */
  private lazy val dirs: (String, String) = {
    val raw = java.nio.file.Files.createTempDirectory("graft-asks-raw").toString
    val state = java.nio.file.Files.createTempDirectory("graft-asks-state").toString
    def load(contacts: DataFrame, deals: DataFrame): Unit = {
      Seq("users" -> CrmFixture.usersRaw(spark), "contacts" -> contacts,
        "companies" -> CrmFixture.companiesRaw(spark), "deals" -> deals,
        "engagements" -> CrmFixture.engagementsRaw(spark),
        "email_events" -> CrmFixture.emailEventsRaw(spark),
        "form_submissions" -> CrmFixture.formsRaw(spark))
        .foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw/$n.json") }
      Pipeline.run(spark, raw, state)
    }
    load(CrmFixture.contactsRaw(spark), CrmFixture.dealsRaw(spark))
    load(CrmFixture.contactsRawV2(spark), CrmFixture.dealsRawV2(spark))
    (raw, state)
  }

  /** The eleven asks of the `crm_cycle` mix, each with its job budget:
    * the number of distinct narrow inputs (file scans under
    * Project/Filter/Generate) its plan reads. */
  private def asks(): Seq[(String, () => DataFrame, Int)] = {
    val (raw, state) = dirs
    def json(n: String, s: org.apache.spark.sql.types.StructType) =
      spark.read.schema(s).json(s"$raw/$n.json")
    val g = Pipeline.transformAll(json("users", CrmSchema.users),
      json("contacts", CrmSchema.envelope), json("companies", CrmSchema.envelope),
      json("deals", CrmSchema.envelope), json("engagements", CrmSchema.envelope),
      json("email_events", CrmSchema.emailEvents),
      json("form_submissions", CrmSchema.formSubmissions))
    // read once: a parquet read without a schema runs a schema job
    val cur = Pipeline.currentTable(spark, state, "contacts").get
    val hist = Pipeline.historyTable(spark, state, "contacts").get
    val rel = Pipeline.relChanges(spark, state).get
    val edges = spark.read.parquet(s"$state/edges")
    val asOf = lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    val fields = cur.columns.toSeq.filterNot(Set("hubspot_id", "valid_from", "valid_to",
      "is_current", "is_deleted", "snapshot_hash"))
    Seq(
      // contacts, users
      ("contact_owner", () => OQ.contactOwner(g, "alice@company1.com"), 2),
      ("contacts_by_owner", () => RQ.contactsByOwner(g, "id:user_1"), 2),
      // the deals' company explode, deals, companies
      ("top_companies", () => RQ.topCompaniesByDealValue(g, 10), 3),
      // opens, clicks (two filters of the events file), contacts, users
      ("recent_email", () => RQ.recentEmailActivity(g, asOf, 7), 4),
      ("entity_history", () => TQ.entityHistory(cur, hist, "c1"), 2),
      ("compare_versions", () => TQ.compareVersions(cur, hist, fields)
        .filter(col("hubspot_id") === "c1"), 2),
      ("relationship_changes", () => TQ.recentRelationshipChanges(rel, 20), 1),
      ("relationship_history",
        () => TQ.entityRelationshipHistory(rel, "HUBSPOT_Deal", "d1"), 1),
      // the twins' cut frames read the edge table: both directions of
      // the symmetric frame are two narrow inputs, the pair weights one
      ("neighborhood", () => GQ.neighborhood(edges, "HUBSPOT_Contact", "c1", 2), 2),
      ("shortest_path", () => GQ.shortestPath(edges, "HUBSPOT_Contact", "c1"), 1),
      ("rank", () => GQ.influenceRanking(edges, Some("OWNED_BY"), 10), 1))
  }

  test("the crm_cycle asks: one job per narrow input, distributed rows, no recompiles") {
    val mix = asks()
    val answers = for ((name, ask, budget) <- mix) yield {
      var rows: Seq[String] = Nil
      val jobs = TestSpark.jobsDuring { rows = ask().collect().map(_.toString).toSeq }
      info(s"$name: $jobs jobs, ${rows.size} rows")
      assert(rows.nonEmpty, s"$name returned nothing")
      assert(jobs <= budget, s"$name launched $jobs jobs, budget $budget")
      rows
    }
    val compiled = TestSpark.codegenCompilesDuring(mix.foreach(_._2().collect()))
    assert(compiled == 0, s"a second pass over the mix compiled $compiled classes")
    // with no broadcast budget every ask keeps its distributed plan
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try for (((name, ask, _), rows) <- mix.zip(answers))
      assert(rows.sorted == ask().collect().map(_.toString).toSeq.sorted, name)
    finally spark.conf.set(key, before)
  }
}
