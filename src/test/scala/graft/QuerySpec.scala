package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.query.{EntityMatcher, ReportQueries => RQ}

/** Report-query layer behavior over the full transformed fixture graph
  * (reference reporting/queries.py + query_ownership.py semantics). */
class QuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val g = Pipeline.transformAll(
    CrmFixture.usersRaw(spark), CrmFixture.contactsRaw(spark),
    CrmFixture.companiesRaw(spark), CrmFixture.dealsRaw(spark),
    CrmFixture.engagementsRaw(spark), CrmFixture.emailEventsRaw(spark),
    CrmFixture.formsRaw(spark))

  test("pipeline builds all 15 edge types with resolved email edges") {
    val types = g.edges.select("rel_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("WORKS_AT", "ASSOCIATED_WITH", "BELONGS_TO", "OWNED_BY",
      "INVOLVES", "RELATED_TO", "PERFORMED", "FOR_CAMPAIGN", "CLICKED_URL",
      "SUBMITTED_BY", "ON_PAGE", "VISITED"))
    // every PERFORMED edge ended up with a resolved contact id
    assert(g.edges.filter(col("rel_type") === "PERFORMED" && col("src_id").isNull)
      .count() == 0)
  }

  test("findOwner: substring match on name OR email, teams included") {
    val got = RQ.findOwner(g, "Doe").collect()
    assert(got.length == 1 && got(0).getString(1) == "John Doe")
    assert(got(0).getString(got(0).fieldIndex("teams")) == "Sales")
    // email-substring match (reference find_owner_by_name also probes email)
    assert(RQ.findOwner(g, "jane.roe@").collect().length == 1)
  }

  test("combinedByOwner: owner-scoped union with email/domain identifiers") {
    val rows = RQ.combinedByOwner(g, "Doe").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("contact", "alice@company1.com"), ("company", "company1.com")))
    assert(rows.forall(_.getString(5) == "John Doe"))
  }

  test("allOwnersSummary: distinct counts + deal value, zero-entity owners kept") {
    val rows = RQ.allOwnersSummary(g).collect()
      .map(r => r.getString(0) -> r).toMap
    val u1 = rows("user_1")
    assert(u1.getLong(u1.fieldIndex("n_contacts")) == 1)   // c1
    assert(u1.getLong(u1.fieldIndex("n_companies")) == 1)  // co1
    assert(u1.getLong(u1.fieldIndex("n_deals")) == 1)      // d1
    assert(u1.getDouble(u1.fieldIndex("total_deal_value")) == 50000.0)
    val u2 = rows("user_2")
    assert(u2.getLong(u2.fieldIndex("n_deals")) == 0)      // left-join keeps owner
  }

  test("allOwnersSummary: an owner's deal value counts each deal once") {
    // John Doe holds 2 contacts, 2 companies and one 500.0 deal: the
    // contacts x companies product of the left joins must not repeat it
    def plus(df: org.apache.spark.sql.DataFrame, from: String, id: String) =
      df.unionByName(df.filter(col("hubspot_id") === from).withColumn("hubspot_id", lit(id)))
    val g2 = g.copy(
      contacts = plus(g.contacts, "c1", "c9"),
      companies = plus(g.companies, "co1", "co9"),
      deals = g.deals.withColumn("amount",
        when(col("hubspot_id") === "d1", lit(500.0)).otherwise(col("amount"))))
    val u1 = RQ.allOwnersSummary(g2).collect().find(_.getString(0) == "user_1").get
    assert(u1.getLong(u1.fieldIndex("n_contacts")) == 2)
    assert(u1.getLong(u1.fieldIndex("n_companies")) == 2)
    assert(u1.getLong(u1.fieldIndex("n_deals")) == 1)
    assert(u1.getDouble(u1.fieldIndex("total_deal_value")) == 500.0)
  }

  test("contactsWithoutCompany: anti-join") {
    val got = RQ.contactsWithoutCompany(g).collect().map(_.getString(0)).toSet
    assert(got == Set("c2", "c3")) // only c1 WORKS_AT a company
  }

  test("engagedContacts: OR of three semi-joins") {
    val got = RQ.engagedContacts(g).collect().map(_.getString(0)).toSet
    assert(got == Set("c1", "c2")) // alice via events+form, bob via form values
  }

  test("topCompaniesByDealValue ranks by BELONGS_TO deal sums") {
    val got = RQ.topCompaniesByDealValue(g, 5).collect()
    assert(got(0).getString(got(0).fieldIndex("company_id")) == "co1") // 50000 > 1000.5
    assert(got(0).getDouble(got(0).fieldIndex("total_value")) == 50000.0)
  }

  test("campaignPerformance: open/click counts + rate") {
    val rows = RQ.campaignPerformance(g).collect()
    val c999 = rows.find(_.getString(0) == "999").get
    assert(c999.getLong(c999.fieldIndex("n_opens")) == 1)
    assert(c999.getLong(c999.fieldIndex("n_clicks")) == 1)
    assert(c999.getDouble(c999.fieldIndex("click_rate_pct")) == 100.0)
  }

  test("combinedOwnerView aligns contacts and companies") {
    val rows = RQ.combinedOwnerView(g).collect()
    assert(rows.count(_.getString(0) == "contact") == 3)
    assert(rows.count(_.getString(0) == "company") == 2)
    val c1 = rows.find(r => r.getString(1) == "c1").get
    assert(c1.getString(c1.fieldIndex("owner_name")) == "John Doe")
  }

  test("conversionFunnel counts submissions per stage") {
    val rows = RQ.conversionFunnel(g).collect().map(r => r.getString(0) -> r).toMap
    val cust = rows("customer") // alice
    assert(cust.getLong(cust.fieldIndex("n_contacts")) == 1)
    assert(cust.getLong(cust.fieldIndex("total_opens")) == 5)
    assert(cust.getDouble(cust.fieldIndex("conversion_pct")) == 100.0)
  }

  test("clicksBeforeSubmission: J9 range join per contact email") {
    // alice's click (2024-06-12) is NOT within 7d before her form
    // (2024-01-15): the form must SURVIVE with n_prior_clicks = 0 (the
    // round-1 post-filter variant dropped it — OPTIONAL MATCH semantics
    // keep the preserved side, DATA_MODEL.md:599-607).
    val rows = RQ.clicksBeforeSubmission(g).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(r.fieldIndex("n_prior_clicks")) == 0))
    val aliceForms = rows.filter(r =>
      r.getString(r.fieldIndex("email")) == "alice@company1.com")
    assert(aliceForms.length == 1) // planted out-of-window click, row preserved
    assert(aliceForms(0).getSeq[String](aliceForms(0).fieldIndex("urls")).isEmpty)
  }

  test("contactsByOwner / companiesByOwner / dealsByOwner: broadcast rosters") {
    val c = RQ.contactsByOwner(g, "Doe").collect()
    assert(c.map(_.getString(c(0).fieldIndex("contact_id"))).toSet == Set("c1"))
    assert(c(0).getString(c(0).fieldIndex("owner_name")) == "John Doe")
    val co = RQ.companiesByOwner(g, "Doe").collect()
    assert(co.map(_.getString(co(0).fieldIndex("company_id"))).toSet == Set("co1"))
    val d = RQ.dealsByOwner(g, "Doe").collect()
    assert(d.map(_.getString(d(0).fieldIndex("deal_id"))).toSet == Set("d1"))
    assert(d(0).getDouble(d(0).fieldIndex("amount")) == 50000.0)
    // substring match spans owners: "o" hits both Doe and Roe
    assert(RQ.contactsByOwner(g, "o").collect().length == 2) // c1 + c2
  }

  test("ownerSummary: filtered A2 counts with active flag") {
    val rows = RQ.ownerSummary(g, "Roe").collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getString(r.fieldIndex("owner_name")) == "Jane Roe")
    assert(!r.getBoolean(r.fieldIndex("active"))) // archived -> inactive
    assert(r.getLong(r.fieldIndex("contacts_owned")) == 1) // c2
    assert(r.getLong(r.fieldIndex("deals_owned")) == 0)
  }

  test("ownerSummary: an owner with several of each entity counts each once") {
    // John Doe gains a second contact, a second company and two more
    // deals: the counts are per table (2 / 2 / 3), never the product
    // of the three left joins.
    def plus(df: org.apache.spark.sql.DataFrame, from: String, ids: String*) =
      ids.foldLeft(df)((acc, id) => acc.unionByName(
        df.filter(col("hubspot_id") === from).withColumn("hubspot_id", lit(id))))
    val g2 = g.copy(
      contacts = plus(g.contacts, "c1", "c9"),
      companies = plus(g.companies, "co1", "co9"),
      deals = plus(g.deals, "d1", "d8", "d9"))
    val rows = RQ.ownerSummary(g2, "Doe").collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getString(r.fieldIndex("owner_name")) == "John Doe")
    assert(r.getLong(r.fieldIndex("contacts_owned")) == 2)
    assert(r.getLong(r.fieldIndex("companies_owned")) == 2)
    assert(r.getLong(r.fieldIndex("deals_owned")) == 3)
  }

  test("recentFormSubmissions: window filter + contact join") {
    // forms are at 2024-01-15/16/17; asOf 2024-02-01 with 30d covers them
    val asOf = lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val got = RQ.recentFormSubmissions(g, asOf, 30).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getString(1) != null)) // contact_name resolved
    // a 1-day window excludes them all
    assert(RQ.recentFormSubmissions(g, asOf, 1).collect().isEmpty)
  }

  test("recentEmailActivity: open+click union with owner") {
    val asOf = lit(java.sql.Timestamp.valueOf("2024-06-13 00:00:00"))
    val got = RQ.recentEmailActivity(g, asOf, 30).collect()
    val types = got.map(r => r.getString(r.fieldIndex("event_type"))).toSet
    assert(types == Set("EmailOpenEvent", "EmailClickEvent"))
    assert(got.forall(r => r.getString(r.fieldIndex("contact_email")) == "alice@company1.com"))
    assert(got.forall(r => r.getString(r.fieldIndex("owner_name")) == "John Doe"))
  }

  test("contactsWithRecentActivity: inner join = activity_count > 0") {
    val asOf = lit(java.sql.Timestamp.valueOf("2024-06-13 00:00:00"))
    val got = RQ.contactsWithRecentActivity(g, "Doe", asOf, 30).collect()
    assert(got.length == 1) // alice: 2 email events in window
    assert(got(0).getLong(got(0).fieldIndex("recent_activities")) == 2L)
    // jane's contact bob has no events in the window -> empty, not zero-row
    assert(RQ.contactsWithRecentActivity(g, "Roe", asOf, 30).collect().isEmpty)
  }

  test("contactEngagementHistory: typed union timeline, newest first") {
    val got = RQ.contactEngagementHistory(g, "alice@company1.com").collect()
    val types = got.map(r => r.getString(r.fieldIndex("engagement_type")))
    assert(types.contains("OPENED") && types.contains("CLICKED")
      && types.contains("SUBMITTED") && types.contains("PERFORMED"))
    val ts = got.map(r => Option(r.getTimestamp(r.fieldIndex("timestamp"))))
    assert(ts.flatten.sliding(2).forall(p => p.length < 2 || !p(0).before(p(1))))
  }

  test("ownership lookups: point queries resolve owners") {
    import graft.query.{OwnershipQueries => OQ}
    val c = OQ.contactOwner(g, "alice@company1.com").collect()
    assert(c.length == 1 && c(0).getString(c(0).fieldIndex("owner_email")) == "john.doe@example.com")
    val co = OQ.companyOwner(g, "Company One").collect()
    assert(co.length == 1 && co(0).getString(co(0).fieldIndex("owner_first_name")) == "John")
    val d = OQ.dealOwner(g, "Big").collect()
    assert(d.length == 1 && d(0).getDouble(d(0).fieldIndex("amount")) == 50000.0)
    val uo = OQ.userOwnership(g, "john.doe@example.com").collect()
    assert(uo.length == 1)
    assert(uo(0).getSeq[String](uo(0).fieldIndex("contacts")) == Seq("alice@company1.com"))
    assert(uo(0).getDouble(uo(0).fieldIndex("total_deal_value")) == 50000.0)
    val all = OQ.allOwnerships(g).collect()
    assert(all.length == 2 && all(0).getString(all(0).fieldIndex("owner")) == "John Doe")
    assert(OQ.contactsWithOwners(g).count() == 2) // c3 has no owner
    assert(OQ.companiesWithOwners(g).count() == 1)
    assert(OQ.dealsWithOwners(g).count() == 1)
  }

  test("ownership totals are not inflated by the contact x company fan-out") {
    // An owner with 2 contacts, 2 companies and 1 deal: the reference's
    // chained-OPTIONAL-MATCH shape duplicates the deal row 2x2 times before
    // sum(amount); the totals must still see the deal exactly once.
    import graft.query.{GraphTables, OwnershipQueries => OQ}
    val empty = spark.emptyDataFrame
    val users = Seq(("u1", "owner@x.com", "Olive", "Owner"))
      .toDF("hubspot_id", "email", "first_name", "last_name")
    val contacts = Seq(("c1", "a@x.com", "u1"), ("c2", "b@x.com", "u1"))
      .toDF("hubspot_id", "email", "owner_id")
    val companies = Seq(("co1", "Acme", "u1"), ("co2", "Globex", "u1"))
      .toDF("hubspot_id", "name", "owner_id")
    val deals = Seq(("d1", "Only Deal", 500.0, "u1"))
      .toDF("hubspot_id", "name", "amount", "owner_id")
    val tiny = GraphTables(users, contacts, companies, deals,
      empty, empty, empty, empty, empty, empty, empty)
    val uo = OQ.userOwnership(tiny, "owner@x.com").collect()
    assert(uo.length == 1)
    assert(uo(0).getDouble(uo(0).fieldIndex("total_deal_value")) == 500.0)
    assert(uo(0).getLong(uo(0).fieldIndex("contact_count")) == 2L)
    assert(uo(0).getLong(uo(0).fieldIndex("company_count")) == 2L)
    assert(uo(0).getLong(uo(0).fieldIndex("deal_count")) == 1L)
    val all = OQ.allOwnerships(tiny).collect()
    assert(all.length == 1)
    assert(all(0).getDouble(all(0).fieldIndex("total_pipeline_value")) == 500.0)
    assert(all(0).getLong(all(0).fieldIndex("contacts")) == 2L)
  }

  test("schema introspection: table/column rows, edge inventory, coverage") {
    import graft.query.Introspect
    val schemas = Introspect.tableSchemas(g).collect()
    assert(schemas.map(_.getString(0)).toSet.contains("contacts"))
    assert(schemas.exists(r => r.getString(0) == "contacts"
      && r.getString(1) == "lifecycle_stage" && r.getString(2) == "string"))
    val rels = Introspect.relationshipTypes(g).collect()
    assert(rels.map(_.getString(0)).toSet.contains("OWNED_BY"))
    assert(rels.forall(_.getLong(3) > 0))
    val cov = Introspect.columnCoverage(g, "contacts").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(cov("hubspot_id") == 3 && cov("email") == 2) // c3 has null email
  }

  test("report sinks: csv and json round-trip (S13/S14)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val result = RQ.contactsByLifecycle(g)
    Report.sink(result, "csv", Some(s"$dir/out_csv"))
    Report.sink(result, "json", Some(s"$dir/out_json"))
    val csvBack = spark.read.option("header", "true").csv(s"$dir/out_csv")
    assert(csvBack.count() == result.count())
    assert(csvBack.columns.toSeq == result.columns.toSeq)
    val jsonBack = spark.read.json(s"$dir/out_json")
    assert(jsonBack.count() == result.count())
  }

  test("Report CLI end-to-end: raw JSON -> --owner roster -> csv") {
    val dir = java.nio.file.Files.createTempDirectory("graft-report").toString
    Seq(
      "users" -> CrmFixture.usersRaw(spark),
      "contacts" -> CrmFixture.contactsRaw(spark),
      "companies" -> CrmFixture.companiesRaw(spark),
      "deals" -> CrmFixture.dealsRaw(spark),
      "engagements" -> CrmFixture.engagementsRaw(spark),
      "email_events" -> CrmFixture.emailEventsRaw(spark),
      "form_submissions" -> CrmFixture.formsRaw(spark)
    ).foreach { case (n, df) => df.write.mode("overwrite").json(s"$dir/$n.json") }
    Report.run(spark, Array(dir, "--owner", "Doe", "--entity", "contacts",
      "--format", "csv", "--out", s"$dir/out"))
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() == 1)
    assert(back.collect()(0).getAs[String]("contact_email") == "alice@company1.com")
  }

  test("entity matcher: linkedin first, email fallback, unmatched reported") {
    val users = Seq(
      ("u1", "a@x.com", "linkedin.com/in/alice"),
      ("u2", "b@x.com", null),
      ("u3", "nobody@x.com", null)
    ).toDF("hubspot_id", "email", "linkedin_url")
    val persons = Seq(
      ("p1", "other@y.com", "linkedin.com/in/alice"),
      ("p2", "b@x.com", "linkedin.com/in/bob")
    ).toDF("person_id", "email", "linkedin_url")
    val m = EntityMatcher.matchUsers(users, persons).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(m("u1") == ("p1", "linkedin_url"))
    assert(m("u2") == ("p2", "email"))
    assert(m("u3") == (null, "unmatched"))
    assert(EntityMatcher.sameAsEdges(
      EntityMatcher.matchUsers(users, persons)).count() == 2)
  }

  test("unionOfKeys aligns heterogeneous report frames (S13 header inference)") {
    val a = Seq(("r1", 1)).toDF("name", "count")
    val b = Seq(("r2", "x@y.com")).toDF("name", "email")
    val u = Report.unionOfKeys(Seq(a, b))
    // header = union of keys across both frames; gaps null-filled
    assert(u.columns.sorted.toSeq == Seq("count", "email", "name"))
    val rows = u.collect().map(r => r.getAs[String]("name") ->
      (Option(r.get(u.columns.indexOf("count"))), Option(r.get(u.columns.indexOf("email"))))).toMap
    assert(rows("r1") == (Some(1), None))
    assert(rows("r2") == (None, Some("x@y.com")))
  }
}
