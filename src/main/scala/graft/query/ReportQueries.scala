package graft.query

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The transformed CRM graph as a bundle of node tables and its edges
  * (SURVEY.md §1.1).
  *
  * The edges are held in typed parts, one frame per relationship type
  * ([[GraphTables.EdgeParts]]), each built the first time it is read:
  * an ask over one type ([[edgesOf]]) plans that type's builders alone,
  * and [[edges]], the union of every part, is built only when read (the
  * load, `QuerySql`'s `edges` view, introspection). Tables built over
  * one whole edge frame (`GraphTables(users, ..., forms, edges)`) read a
  * type as that frame filtered on `rel_type`. */
final case class GraphTables(
    users: DataFrame, contacts: DataFrame, companies: DataFrame,
    deals: DataFrame, activities: DataFrame, campaigns: DataFrame,
    webPages: DataFrame, opens: DataFrame, clicks: DataFrame,
    forms: DataFrame, edgeParts: GraphTables.EdgeParts) {

  /** The edges of one relationship type. */
  def edgesOf(relType: String): DataFrame = edgeParts.of(relType)

  /** Every edge: the union of the typed parts. */
  def edges: DataFrame = edgeParts.all
}

object GraphTables {

  /** Tables over one whole edge frame. */
  def apply(users: DataFrame, contacts: DataFrame, companies: DataFrame,
      deals: DataFrame, activities: DataFrame, campaigns: DataFrame,
      webPages: DataFrame, opens: DataFrame, clicks: DataFrame,
      forms: DataFrame, edges: DataFrame): GraphTables =
    GraphTables(users, contacts, companies, deals, activities, campaigns, webPages,
      opens, clicks, forms, EdgeParts.whole(edges))

  /** Edges as one frame per relationship type, each built by its
    * builder on first read and kept; `all`, their union in builder
    * order, is built on first read too. A type without a builder reads
    * `all` filtered on `rel_type` (no rows). */
  final class EdgeParts private (builders: ListMap[String, () => DataFrame],
      whole: Option[DataFrame]) {
    private val built = TrieMap.empty[String, DataFrame]

    lazy val all: DataFrame = whole.getOrElse(builders.keys.map(of).reduce(_.unionByName(_)))

    def of(relType: String): DataFrame = builders.get(relType) match {
      case Some(build) => built.getOrElseUpdate(relType, build())
      case None => all.filter(col("rel_type") === relType)
    }
  }

  object EdgeParts {
    def apply(builders: (String, () => DataFrame)*): EdgeParts =
      new EdgeParts(ListMap(builders: _*), None)

    /** Parts read from one frame holding every type. */
    def whole(edges: DataFrame): EdgeParts = new EdgeParts(ListMap.empty, Some(edges))
  }
}

/** One Scala function per reference report query
  * (SURVEY.md §3.2; reference reporting/queries.py:8-334 +
  * query_ownership.py:24-152). Cypher MATCH chains become equi-joins;
  * OPTIONAL MATCH becomes left join; EXISTS becomes semi-join; the
  * dimension sides (users, campaigns) are broadcast.
  */
object ReportQueries {

  private def ownerName: Column = concat_ws(" ", col("first_name"), col("last_name"))

  /** The WHERE every per-owner report shares (reporting/queries.py:20-21).
    * An `id:<hubspot_id>` needle selects that exact user — the scriptable
    * form of the reference's interactive disambiguation pick
    * (report.py:39-87): the CLI lists candidates, the caller re-runs
    * with `--pick N`, and Report resolves N to this exact-id needle. */
  private def ownerNameFilter(needle: String): Column =
    if (needle.startsWith("id:"))
      col("hubspot_id") === needle.stripPrefix("id:")
    else
      col("first_name").contains(needle) || col("last_name").contains(needle)

  /** Matching owners projected to the broadcastable join dimension. */
  private def matchedOwners(g: GraphTables, needle: String): DataFrame =
    broadcast(g.users.filter(ownerNameFilter(needle))
      .select(col("hubspot_id").as("owner_key"), col("email").as("owner_email"),
        ownerName.as("owner_name")))

  /** Owner lookup by name OR email substring, with team membership
    * (P4; reporting/queries.py:273-295). */
  def findOwner(g: GraphTables, needle: String): DataFrame = answer {
    g.users.filter(ownerNameFilter(needle) || col("email").contains(needle))
      .select(col("hubspot_id"), ownerName.as("owner_name"), col("email"),
        col("active"), col("teams"))
      .orderBy("hubspot_id")
  }

  /** Per-owner contact roster (reporting/queries.py:9-33): J2 broadcast
    * equi-join, contacts keep their partitioning. */
  def contactsByOwner(g: GraphTables, needle: String): DataFrame = answer {
    g.contacts.join(matchedOwners(g, needle), col("owner_id") === col("owner_key"))
      .select(col("owner_email"), col("owner_name"),
        col("hubspot_id").as("contact_id"), col("email").as("contact_email"),
        col("first_name").as("contact_first_name"),
        col("last_name").as("contact_last_name"),
        col("job_title"), col("lifecycle_stage"), col("created_date"),
        col("last_modified"))
      .orderBy(desc_nulls_last("created_date"), col("contact_id"))
  }

  /** Per-owner company roster (reporting/queries.py:35-64). */
  def companiesByOwner(g: GraphTables, needle: String): DataFrame = answer {
    g.companies.join(matchedOwners(g, needle), col("owner_id") === col("owner_key"))
      .select(col("owner_email"), col("owner_name"),
        col("hubspot_id").as("company_id"), col("name").as("company_name"),
        col("domain"), col("industry"), col("employee_count"), col("annual_revenue"),
        col("city"), col("state"), col("country"), col("created_date"),
        col("last_modified"))
      .orderBy(desc_nulls_last("created_date"), col("company_id"))
  }

  /** Per-owner deal roster (reporting/queries.py:66-94). */
  def dealsByOwner(g: GraphTables, needle: String): DataFrame = answer {
    g.deals.join(matchedOwners(g, needle), col("owner_id") === col("owner_key"))
      .select(col("owner_email"), col("owner_name"),
        col("hubspot_id").as("deal_id"), col("name").as("deal_name"),
        col("amount"), col("stage"), col("pipeline"), col("close_date"),
        col("created_date"), col("last_modified"))
      .orderBy(desc_nulls_last("created_date"), col("deal_id"))
  }

  /** Summary statistics for owners matching a name pattern
    * (reporting/queries.py:96-119): the allOwnersSummary A2 counts with
    * the owner filter pushed below the joins, plus the `active` flag.
    * Each entity table is reduced to one distinct count per matched
    * owner BEFORE the joins (the [[OwnershipQueries.userOwnership]]
    * shape): chaining the three left joins first would build
    * n_contacts x n_companies x n_deals rows per owner for
    * `countDistinct` to fold back down. */
  def ownerSummary(g: GraphTables, needle: String): DataFrame = answer {
    val u = g.users.filter(ownerNameFilter(needle))
      .select(col("hubspot_id").as("owner_key"), ownerName.as("owner_name"),
        col("email").as("owner_email"), col("active"))
      .distinct() // users are not deduplicated upstream; one row per owner
    val owners = broadcast(u.select(col("owner_key")))
    def owned(df: DataFrame, name: String): DataFrame =
      df.join(owners, col("owner_id") === col("owner_key"), "left_semi")
        .groupBy(col("owner_id").as("owner_key"))
        .agg(countDistinct("hubspot_id").as(name))
    u.join(owned(g.contacts, "contacts_owned"), Seq("owner_key"), "left")
      .join(owned(g.companies, "companies_owned"), Seq("owner_key"), "left")
      .join(owned(g.deals, "deals_owned"), Seq("owner_key"), "left")
      .orderBy("owner_key")
      .select(col("owner_name"), col("owner_email"), col("active"),
        coalesce(col("contacts_owned"), lit(0L)).as("contacts_owned"),
        coalesce(col("companies_owned"), lit(0L)).as("companies_owned"),
        coalesce(col("deals_owned"), lit(0L)).as("deals_owned"))
  }

  /** Per-owner entity counts + pipeline value — the A2 shape
    * (reporting/queries.py:122-141, query_ownership.py:82-103), with
    * each entity table reduced to one row per owner BEFORE the left
    * joins, as [[ownerSummary]] does: chaining the joins first would
    * sum each deal's `amount` once per (contact, company) pair. */
  def allOwnersSummary(g: GraphTables): DataFrame = answer {
    // users must be the PRESERVED side of the left joins (owners with zero
    // entities stay in the report), so it cannot be the broadcast build
    // side; users are not deduplicated upstream, so one row per owner
    val u = g.users.select(col("hubspot_id").as("owner_key"),
      ownerName.as("owner_name"), col("email").as("owner_email")).distinct()
    def owned(df: DataFrame, aggs: Column*): DataFrame =
      df.groupBy(col("owner_id").as("owner_key")).agg(aggs.head, aggs.tail: _*)
    u.join(owned(g.contacts, countDistinct("hubspot_id").as("c")), Seq("owner_key"), "left")
      .join(owned(g.companies, countDistinct("hubspot_id").as("co")), Seq("owner_key"), "left")
      .join(owned(g.deals, countDistinct("hubspot_id").as("d"), sum("amount").as("value")),
        Seq("owner_key"), "left")
      .select(col("owner_key"), col("owner_name"), col("owner_email"),
        coalesce(col("c"), lit(0L)).as("n_contacts"),
        coalesce(col("co"), lit(0L)).as("n_companies"),
        coalesce(col("d"), lit(0L)).as("n_deals"),
        round(coalesce(col("value"), lit(0.0)), 2).as("total_deal_value"))
      .orderBy(desc("n_contacts"), col("owner_key"))
  }

  /** A1 — contacts per lifecycle stage (reporting/queries.py:150-156). */
  def contactsByLifecycle(g: GraphTables): DataFrame = answer {
    g.contacts.groupBy("lifecycle_stage").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("lifecycle_stage"))
  }

  /** A1/P5 — companies per industry (reporting/queries.py:165-172). */
  def companiesByIndustry(g: GraphTables): DataFrame = answer {
    g.companies.filter(col("industry").isNotNull)
      .groupBy("industry").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("industry"))
  }

  /** A7 — lifecycle funnel with conversion rate (README.md:314-336). */
  def conversionFunnel(g: GraphTables): DataFrame = answer {
    val submits = g.edgesOf("SUBMITTED_BY")
      .groupBy(col("dst_id").as("c_id")).agg(count(lit(1)).as("n_submissions"))
    g.contacts
      .join(submits, col("hubspot_id") === col("c_id"), "left")
      .groupBy("lifecycle_stage")
      .agg(count(lit(1)).as("n_contacts"),
        sum("total_email_opens").as("total_opens"),
        sum("total_email_clicks").as("total_clicks"),
        sum(coalesce(col("n_submissions"), lit(0L))).as("total_submissions"),
        round(sum(when(coalesce(col("n_submissions"), lit(0L)) > 0, 1).otherwise(0))
          * lit(100.0) / count(lit(1)), 4).as("conversion_pct"))
      .orderBy("lifecycle_stage")
  }

  /** A8 — per-campaign open/click rate (README.md:348-356, main.py:180-187). */
  def campaignPerformance(g: GraphTables): DataFrame = answer {
    val opens = g.opens.groupBy(col("campaign_id")).agg(count(lit(1)).as("n_opens"))
    val clicks = g.clicks.groupBy(col("campaign_id")).agg(count(lit(1)).as("n_clicks"))
    // campaigns is the preserved side of the left joins (campaigns with
    // zero opens stay in the report) — not broadcastable as build side
    g.campaigns.select(col("hubspot_id").as("campaign_id"), col("name"))
      .join(opens, Seq("campaign_id"), "left")
      .join(clicks, Seq("campaign_id"), "left")
      .withColumn("n_opens", coalesce(col("n_opens"), lit(0L)))
      .withColumn("n_clicks", coalesce(col("n_clicks"), lit(0L)))
      .withColumn("click_rate_pct",
        when(col("n_opens") > 0, round(col("n_clicks") * 100.0 / col("n_opens"), 4)))
      .orderBy(desc("n_opens"), col("campaign_id"))
  }

  /** A5/A6 — campaign engagement detail: first 10 opens (ordered collect
    * slice) + distinct clicked URLs (README.md:264-295). */
  def campaignEngagement(g: GraphTables, campaignId: String): DataFrame = answer {
    val o = g.opens.filter(col("campaign_id") === campaignId)
      .groupBy("campaign_id")
      .agg(min("timestamp").as("first_open"), max("timestamp").as("last_open"),
        slice(sort_array(collect_list(col("timestamp"))), 1, 10).as("first_10_opens"),
        count(lit(1)).as("n_opens"))
    val c = g.clicks.filter(col("campaign_id") === campaignId)
      .groupBy("campaign_id")
      .agg(sort_array(collect_set(col("clicked_url"))).as("clicked_urls"),
        count(lit(1)).as("n_clicks"))
    o.join(c, Seq("campaign_id"), "left")
  }

  /** O2 — top companies by associated deal value (README.md:341-346). */
  def topCompaniesByDealValue(g: GraphTables, k: Int): DataFrame = answer {
    g.edgesOf("BELONGS_TO")
      .select(col("src_id").as("deal_id"), col("dst_id").as("company_id"))
      .join(g.deals.select(col("hubspot_id").as("deal_id"), col("amount")), Seq("deal_id"))
      .groupBy("company_id")
      .agg(round(sum("amount"), 2).as("total_value"), count(lit(1)).as("n_deals"))
      .join(g.companies.select(col("hubspot_id").as("company_id"), col("name")),
        Seq("company_id"))
      .orderBy(desc("total_value"), col("company_id"))
      .limit(k)
  }

  /** J5 — contacts with no company (README.md:376-381). */
  def contactsWithoutCompany(g: GraphTables): DataFrame = answer {
    g.contacts.join(
        g.edgesOf("WORKS_AT").select(col("src_id").as("hubspot_id")),
        Seq("hubspot_id"), "left_anti")
      .select(col("hubspot_id"), col("email"), col("first_name"), col("last_name"))
      .orderBy("hubspot_id")
  }

  /** J4 — contacts with any engagement: OR of three EXISTS = union of
    * semi-joins + distinct (README.md:299-312, DATA_MODEL.md:573-585). */
  def engagedContacts(g: GraphTables): DataFrame = answer {
    val byOpen = g.contacts.join(
      g.opens.select(col("recipient_email").as("email")), Seq("email"), "left_semi")
    val byClick = g.contacts.join(
      g.clicks.select(col("recipient_email").as("email")), Seq("email"), "left_semi")
    val byForm = g.contacts.join(
      g.forms.select(col("email")), Seq("email"), "left_semi")
    byOpen.unionByName(byClick).unionByName(byForm)
      .dropDuplicates("hubspot_id")
      .select(col("hubspot_id"), col("email"))
      .orderBy("hubspot_id")
  }

  /** U1 — combined contacts+companies per owner, aligned columns (the
    * reference Cypher is malformed; this implements the documented intent,
    * reporting/queries.py:298-334). */
  def combinedOwnerView(g: GraphTables): DataFrame = answer {
    val u = broadcast(g.users.select(col("hubspot_id").as("owner_key"),
      ownerName.as("owner_name"), col("email").as("owner_email")))
    val contacts = g.contacts.select(
      lit("contact").as("entity_type"), col("hubspot_id").as("identifier"),
      concat_ws(" ", col("first_name"), col("last_name")).as("name"),
      col("lifecycle_stage").as("status"), col("created_date"), col("owner_id"))
    val companies = g.companies.select(
      lit("company").as("entity_type"), col("hubspot_id").as("identifier"),
      col("name"), col("industry").as("status"), col("created_date"), col("owner_id"))
    contacts.unionByName(companies)
      .join(u, col("owner_id") === col("owner_key"), "left")
      .select(col("entity_type"), col("identifier"), col("name"), col("status"),
        col("created_date"), col("owner_name"), col("owner_email"))
      .orderBy("entity_type", "identifier")
  }

  /** J9 — clicks within 7 days before each form submission, per contact
    * (DATA_MODEL.md:597-609): equi on email + timestamp range.
    *
    * The range predicate lives INSIDE the left-join condition (the
    * reference's OPTIONAL MATCH carries it inside the optional pattern):
    * a form whose contact clicked only OUTSIDE the window must survive
    * with n_prior_clicks = 0, not vanish. Post-filtering the joined rows
    * (the round-1 bug) dropped exactly those forms, because every joined
    * row failed the filter and no null-extended row was left. */
  def clicksBeforeSubmission(g: GraphTables): DataFrame = answer {
    val f = g.forms.select(col("hubspot_id").as("form_id"), col("email"),
      col("timestamp").as("form_ts"))
    val c = g.clicks.select(col("recipient_email").as("c_email"),
      col("timestamp").as("click_ts"), col("clicked_url"))
    f.join(c,
        col("email") === col("c_email") &&
          col("click_ts") < col("form_ts") &&
          col("click_ts") >= col("form_ts") - expr("INTERVAL 7 DAYS"),
        "left")
      .groupBy("form_id", "email", "form_ts")
      .agg(count(col("click_ts")).as("n_prior_clicks"),
        sort_array(collect_set(col("clicked_url"))).as("urls"))
      .orderBy("form_id")
  }

  /** U1 scoped to matched owners — combined contacts+companies for owners
    * matching a name pattern (reporting/queries.py:298-334; the reference
    * Cypher is malformed, this implements the documented intent: the
    * reference's identifier columns are contact email / company domain). */
  def combinedByOwner(g: GraphTables, needle: String): DataFrame = answer {
    val contacts = g.contacts.select(lit("contact").as("entity_type"),
      col("email").as("identifier"), ownerName.as("name"),
      col("lifecycle_stage").as("status"), col("created_date"), col("owner_id"))
    val companies = g.companies.select(lit("company").as("entity_type"),
      col("domain").as("identifier"), col("name"),
      col("industry").as("status"), col("created_date"), col("owner_id"))
    contacts.unionByName(companies)
      .join(matchedOwners(g, needle), col("owner_id") === col("owner_key"))
      .select(col("entity_type"), col("identifier"), col("name"), col("status"),
        col("created_date"), col("owner_name"), col("owner_email"))
      .orderBy(desc_nulls_last("created_date"), col("entity_type"), col("identifier"))
  }

  /** P7+J1 — form submissions in the lookback window, with the submitting
    * contact (reporting/queries.py:175-195). `asOf` is the caller's batch
    * timestamp (F19: captured once, never now()-per-row). */
  def recentFormSubmissions(g: GraphTables, asOf: Column, days: Int = 30): DataFrame = answer {
    g.forms.filter(col("timestamp") >= asOf - expr(s"INTERVAL $days DAYS"))
      .select(col("email"), col("form_guid").as("form_id"),
        col("form_name").as("form_title"), col("timestamp").as("submission_date"))
      .join(g.contacts.select(col("email"), ownerName.as("contact_name")), Seq("email"))
      .select(col("email").as("contact_email"), col("contact_name"), col("form_id"),
        col("form_title"), col("submission_date"))
      .orderBy(desc("submission_date"), col("form_id"))
  }

  /** P7+U2+J3 — recent opens and clicks with contact + owner
    * (reporting/queries.py:197-220). */
  def recentEmailActivity(g: GraphTables, asOf: Column, days: Int = 30): DataFrame = answer {
    val events = g.opens
      .select(col("recipient_email"), col("timestamp"), col("campaign_id"),
        lit("EmailOpenEvent").as("event_type"))
      .unionByName(g.clicks.select(col("recipient_email"), col("timestamp"),
        col("campaign_id"), lit("EmailClickEvent").as("event_type")))
      .filter(col("timestamp") >= asOf - expr(s"INTERVAL $days DAYS"))
    g.contacts.select(col("email"), ownerName.as("contact_name"), col("owner_id"))
      .join(events, col("email") === col("recipient_email"))
      .join(broadcast(g.users.select(col("hubspot_id").as("owner_id"),
        ownerName.as("owner_name"))), Seq("owner_id"), "left")
      .select(col("email").as("contact_email"), col("contact_name"), col("owner_name"),
        col("event_type"), col("timestamp").as("event_date"), col("campaign_id"))
      .orderBy(desc("event_date"), col("contact_email"), col("event_type"))
  }

  /** One owner's contacts with any engagement in the window, ranked by
    * activity count (reporting/queries.py:222-248). The inner join to the
    * per-email activity aggregate IS the `activity_count > 0` predicate. */
  def contactsWithRecentActivity(g: GraphTables, needle: String, asOf: Column,
      days: Int = 30): DataFrame = answer {
    val cutoff = asOf - expr(s"INTERVAL $days DAYS")
    val activity = g.opens.select(col("recipient_email").as("email"), col("timestamp"))
      .unionByName(g.clicks.select(col("recipient_email").as("email"), col("timestamp")))
      .unionByName(g.forms.select(col("email"), col("timestamp")))
      .filter(col("timestamp") >= cutoff)
      .groupBy("email").agg(count(lit(1)).as("recent_activities"))
    g.contacts.join(matchedOwners(g, needle), col("owner_id") === col("owner_key"))
      .join(activity, Seq("email"))
      .select(col("owner_email"), col("email").as("contact_email"),
        ownerName.as("contact_name"), col("lifecycle_stage"), col("recent_activities"))
      .orderBy(desc("recent_activities"), col("contact_email"))
  }

  /** One contact's full engagement timeline (reporting/queries.py:250-271):
    * typed union of the event tables + PERFORMED activities, newest first. */
  def contactEngagementHistory(g: GraphTables, contactEmail: String): DataFrame = answer {
    val c = g.contacts.filter(col("email") === contactEmail)
      .select(col("hubspot_id").as("contact_id"), col("email").as("contact_email"),
        ownerName.as("contact_name"))
    def shaped(df: DataFrame, emailCol: String, engagement: String, entity: String,
        detail: Column) =
      df.select(col(emailCol).as("contact_email"),
        lit(engagement).as("engagement_type"),
        lit(entity).as("related_entity_type"),
        col("hubspot_id").as("related_id"), col("timestamp"), detail.as("detail"))
    // Activities reach contacts through (Activity)-[:INVOLVES]->(Contact);
    // PERFORMED edges point at email events, already covered by the typed
    // union below.
    val performed = g.edgesOf("INVOLVES")
      .filter(col("dst_type") === "HUBSPOT_Contact")
      .select(col("dst_id").as("contact_id2"), col("src_id").as("activity_id"))
      .join(g.activities.select(col("hubspot_id").as("activity_id"), col("timestamp"),
        col("type"), col("details")), Seq("activity_id"))
    val events =
      shaped(g.opens, "recipient_email", "OPENED", "EmailOpenEvent", col("campaign_id"))
        .unionByName(shaped(g.clicks, "recipient_email", "CLICKED", "EmailClickEvent",
          col("clicked_url")))
        .unionByName(shaped(g.forms, "email", "SUBMITTED", "FormSubmission",
          col("form_name")))
    val withActivities = events
      .join(c, Seq("contact_email"))
      .select(col("contact_email"), col("contact_name"), col("engagement_type"),
        col("related_entity_type"), col("related_id"), col("timestamp"), col("detail"))
      .unionByName(
        c.join(performed, col("contact_id") === col("contact_id2"))
          .select(col("contact_email"), col("contact_name"),
            lit("PERFORMED").as("engagement_type"),
            col("type").as("related_entity_type"),
            col("activity_id").as("related_id"), col("timestamp"),
            col("details").as("detail")))
    withActivities.orderBy(desc_nulls_last("timestamp"), col("engagement_type"))
  }

  /** J8 — 2-hop chain contact → owner (→ SAME_AS person handled by
    * EntityMatcher output when present) (README.md:216-218, 530-533). */
  def contactOwnerChain(g: GraphTables): DataFrame = answer {
    g.contacts.select(col("hubspot_id").as("contact_id"), col("email"),
        col("owner_id"))
      .join(broadcast(g.users.select(col("hubspot_id").as("owner_id"),
        ownerName.as("owner_name"), col("active").as("owner_active"))),
        Seq("owner_id"), "left")
      .orderBy("contact_id")
  }
}
