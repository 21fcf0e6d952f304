package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.transform.{EdgeBuilder, GraphTransform => GT}

/** Transform + edge-builder behavior on the reference-shaped mini dataset
  * (mirrors reference tests/test_graph_transformer.py, corrected per
  * SURVEY.md §7.4 hard-part 7: the CURRENT transformer semantics —
  * HUBSPOT_-prefixed labels, PERFORMED rel — are the spec, not the stale
  * reference test expectations). */
class TransformSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val contacts = GT.contacts(CrmFixture.contactsRaw(spark)).cache()
  private lazy val opens = GT.emailOpens(CrmFixture.emailEventsRaw(spark)).cache()
  private lazy val clicks = GT.emailClicks(CrmFixture.emailEventsRaw(spark)).cache()
  private lazy val forms = GT.formSubmissions(CrmFixture.formsRaw(spark)).cache()

  test("contacts: flatten, clean email, lenient casts") {
    val rows = contacts.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size == 3)
    val c1 = rows("c1")
    assert(c1.getString(c1.fieldIndex("email")) == "alice@company1.com")
    assert(c1.getLong(c1.fieldIndex("total_email_opens")) == 5L)
    assert(c1.getTimestamp(c1.fieldIndex("created_date")).toString.startsWith("2024-01-01"))
    val c2 = rows("c2")
    assert(c2.getLong(c2.fieldIndex("total_email_opens")) == 0L) // "not_a_number" -> 0
  }

  test("users: teams joined, active = !archived") {
    val u = GT.users(CrmFixture.usersRaw(spark)).collect().map(r => r.getString(0) -> r).toMap
    assert(u("user_2").getString(u("user_2").fieldIndex("teams")) == "Sales, CS")
    assert(u("user_2").getBoolean(u("user_2").fieldIndex("active")) == false)
    assert(u("user_1").getBoolean(u("user_1").fieldIndex("active")) == true)
  }

  test("activities: type-dispatched detail columns, NOTE body truncation") {
    val a = GT.activities(CrmFixture.engagementsRaw(spark)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(a("e1").getString(a("e1").fieldIndex("details")) == "Kickoff")
    assert(a("e2").getLong(a("e2").fieldIndex("duration")) == 600L)
    assert(a("e3").getString(a("e3").fieldIndex("body")) == "a note")
  }

  test("email events: only OPEN/CLICK with recipient become nodes; campaigns dedup") {
    assert(opens.count() == 1) // SENT and null-recipient dropped
    assert(clicks.count() == 1)
    val camp = GT.emailCampaigns(
      CrmFixture.emailEventsRaw(spark)
        .withColumn("campaign_id", col("emailCampaignId"))
        .withColumn("ts", graft.functions.Clean.parseHubspotTs(col("created"))))
    assert(camp.filter(col("hubspot_id") === "999").count() == 1)
  }

  test("form submissions: email extracted from values, no-email row dropped") {
    val f = forms.collect().map(r => r.getString(r.fieldIndex("form_guid")) -> r).toMap
    assert(f.size == 2) // g-3 dropped
    assert(f("g-2").getString(f("g-2").fieldIndex("email")) == "bob@company2.com")
  }

  test("edges: WORKS_AT, ASSOCIATED_WITH both-sides dedup, OWNED_BY") {
    val worksAt = EdgeBuilder.worksAt(CrmFixture.contactsRaw(spark))
    assert(worksAt.count() == 1)
    val assoc = EdgeBuilder.associatedWith(
      CrmFixture.contactsRaw(spark), CrmFixture.dealsRaw(spark))
    // c1-d1 appears on both sides -> deduped; c2-d1 only from deal side
    assert(assoc.count() == 2)
    val owned = EdgeBuilder.ownedBy(contacts, "HUBSPOT_Contact")
    assert(owned.count() == 2) // c3 has no owner
  }

  test("edges: a rel_type filter prunes the other builders' association explodes") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val g = Pipeline.transformAll(
      CrmFixture.usersRaw(spark), CrmFixture.contactsRaw(spark),
      CrmFixture.companiesRaw(spark), CrmFixture.dealsRaw(spark),
      CrmFixture.engagementsRaw(spark), CrmFixture.emailEventsRaw(spark),
      CrmFixture.formsRaw(spark))
    val belongsTo = g.edges.filter(col("rel_type") === "BELONGS_TO")
    val explodes = belongsTo.queryExecution.optimizedPlan
      .collect { case gen: Generate => gen.generator.toString }
    assert(explodes.nonEmpty && explodes.forall(_.contains("[companies]")),
      s"explodes left under a BELONGS_TO filter: $explodes")
    assert(belongsTo.count() == 2)
  }

  test("edges: email-keyed PERFORMED / SUBMITTED_BY resolve via broadcast join") {
    val emails = EdgeBuilder.contactEmails(contacts)
    val p = EdgeBuilder.resolveEmailEdges(EdgeBuilder.performed(opens, "HUBSPOT_EmailOpenEvent")
      .unionByName(EdgeBuilder.performed(clicks, "HUBSPOT_EmailClickEvent")), emails, "src_id")
    assert(p.count() == 2)
    assert(p.filter(col("src_id") === "c1").count() == 2) // both alice events
    val s = EdgeBuilder.resolveEmailEdges(EdgeBuilder.submittedBy(forms), emails, "dst_id")
    assert(s.count() == 2)
    assert(s.filter(col("dst_id") === "c2").count() == 1) // bob's form, via values
  }

  test("email resolution degrades to an unhinted join when the dim outgrows broadcast") {
    // Simulate "dim too big to broadcast" by shrinking the threshold to 1
    // byte: the size gate must withhold the hint (no ResolvedHint / no
    // forced BroadcastExchange in the analyzed plan), and semantics must
    // be byte-identical to the hinted path.
    val performed = EdgeBuilder.performed(opens, "HUBSPOT_EmailOpenEvent")
      .unionByName(EdgeBuilder.performed(clicks, "HUBSPOT_EmailClickEvent"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val emails = EdgeBuilder.contactEmails(contacts)
      val p = EdgeBuilder.resolveEmailEdges(performed, emails, "src_id")
      val s = EdgeBuilder.resolveEmailEdges(EdgeBuilder.submittedBy(forms), emails, "dst_id")
      assert(!p.queryExecution.analyzed.toString.contains("ResolvedHint"))
      assert(!s.queryExecution.analyzed.toString.contains("ResolvedHint"))
      assert(p.count() == 2)
      assert(s.filter(col("dst_id") === "c2").count() == 1)
    } finally spark.conf.set(key, prev)
  }

  test("edges: the typed parts hold the rows of the one resolved union, type by type") {
    import graft.query.{GraphTables, ReportQueries => RQ}
    val (cr, dr, er) = (CrmFixture.contactsRaw(spark), CrmFixture.dealsRaw(spark),
      CrmFixture.engagementsRaw(spark))
    val g = Pipeline.transformAll(CrmFixture.usersRaw(spark), cr,
      CrmFixture.companiesRaw(spark), dr, er, CrmFixture.emailEventsRaw(spark),
      CrmFixture.formsRaw(spark))
    // the table as the transform built it before the typed parts: the
    // union of all 15 builders, email-keyed edges resolved in one join
    val all = Seq(EdgeBuilder.worksAt(cr), EdgeBuilder.associatedWith(cr, dr),
      EdgeBuilder.belongsTo(dr), EdgeBuilder.ownedBy(g.contacts, "HUBSPOT_Contact"),
      EdgeBuilder.ownedBy(g.companies, "HUBSPOT_Company"),
      EdgeBuilder.ownedBy(g.deals, "HUBSPOT_Deal"),
      EdgeBuilder.involves(er).unionByName(EdgeBuilder.relatedTo(er)),
      EdgeBuilder.performed(g.opens, "HUBSPOT_EmailOpenEvent"),
      EdgeBuilder.performed(g.clicks, "HUBSPOT_EmailClickEvent"),
      EdgeBuilder.forCampaign(g.opens, "HUBSPOT_EmailOpenEvent"),
      EdgeBuilder.forCampaign(g.clicks, "HUBSPOT_EmailClickEvent"),
      EdgeBuilder.clickedUrl(g.clicks), EdgeBuilder.submittedBy(g.forms),
      EdgeBuilder.onPage(g.forms), EdgeBuilder.visited(g.contacts)).reduce(_.unionByName(_))
    val dim = g.contacts.filter(col("email").isNotNull)
      .groupBy(col("email").as("c_email")).agg(min("hubspot_id").as("c_id"))
    val keyed = all.filter(col("src_email").isNotNull)
      .join(dim, col("src_email") === col("c_email"), "inner")
    val union = keyed.filter(col("rel_type") === "PERFORMED").withColumn("src_id", col("c_id"))
      .unionByName(keyed.filter(col("rel_type") === "SUBMITTED_BY")
        .withColumn("dst_id", col("c_id")))
      .select(all.columns.map(col): _*)
      .unionByName(all.filter(col("src_email").isNull))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted
    assert(g.edges.columns.toSeq == union.columns.toSeq)
    assert(rows(g.edges) == rows(union))
    val types = union.select("rel_type").distinct().collect().map(_.getString(0)).toSeq
    assert(types.size == 12)
    for (t <- types) {
      assert(rows(g.edgesOf(t)) == rows(g.edges.filter(col("rel_type") === t)), t)
      assert(g.edgesOf(t) eq g.edgesOf(t), s"$t is built once")
    }
    assert(rows(g.edgesOf("NO_SUCH_TYPE")).isEmpty)
    // tables over one whole edge frame read a type as a filter of it
    val whole = GraphTables(g.users, g.contacts, g.companies, g.deals, g.activities,
      g.campaigns, g.webPages, g.opens, g.clicks, g.forms, union)
    assert(whole.edges eq union)
    for (t <- types)
      assert(rows(whole.edgesOf(t)) == rows(union.filter(col("rel_type") === t)), t)
    assert(rows(RQ.contactsWithoutCompany(whole)) == rows(RQ.contactsWithoutCompany(g)))
    assert(rows(RQ.topCompaniesByDealValue(whole, 5)) == rows(RQ.topCompaniesByDealValue(g, 5)))
  }

  test("edge validation keeps only edges with both endpoints present") {
    val edges = EdgeBuilder.worksAt(CrmFixture.contactsRaw(spark))
      .unionByName(EdgeBuilder.belongsTo(CrmFixture.dealsRaw(spark)))
    val nodeIds = contacts.select(lit("HUBSPOT_Contact").as("node_type"), col("hubspot_id"))
      .unionByName(GT.companies(CrmFixture.companiesRaw(spark))
        .select(lit("HUBSPOT_Company").as("node_type"), col("hubspot_id")))
      .unionByName(GT.deals(CrmFixture.dealsRaw(spark))
        .select(lit("HUBSPOT_Deal").as("node_type"), col("hubspot_id")))
    assert(EdgeBuilder.validate(edges, nodeIds).count() == edges.count())
    // drop company co1 -> its edges disappear
    val fewer = EdgeBuilder.validate(edges,
      nodeIds.filter(col("hubspot_id") =!= "co1"))
    assert(fewer.count() == edges.count() - 2) // WORKS_AT c1->co1, BELONGS_TO d1->co1
  }

  test("webPages: url nodes deduped across sources with parsed domain/path") {
    val pages = GT.webPages(clicks, forms, contacts)
    val byUrl = pages.collect().map(r => r.getString(r.fieldIndex("url")) -> r).toMap
    assert(byUrl.contains("https://www.company1.com/pricing"))
    assert(byUrl("https://www.company1.com/pricing")
      .getString(byUrl("https://www.company1.com/pricing").fieldIndex("domain")) == "company1.com")
    assert(pages.groupBy("url").count().filter(col("count") > 1).count() == 0)
  }
}
