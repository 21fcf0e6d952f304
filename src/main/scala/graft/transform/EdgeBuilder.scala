package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Clean._

/** Builds the edges of the 15 relationship builders, one frame per
  * relationship type (SURVEY.md §1.4; reference
  * transformers/graph_transformer.py + loaders/neo4j_loader.py).
  *
  * Edges whose contact is only known by email (PERFORMED, SUBMITTED_BY)
  * carry `src_email`; [[resolveEmailEdges]] turns each such part into
  * id-keyed edges with one broadcast hash join against the contact-email
  * dimension ([[contactEmails]]) — the reference's dict build+probe
  * (graph_transformer.py:501-507) IS a broadcast hash join (SURVEY.md J2).
  */
object EdgeBuilder {

  private val nullStr = lit(null).cast("string")
  private val nullProps = lit(null).cast("map<string,string>")

  private def edge(relType: String, srcType: String, srcId: Column,
      dstType: String, dstId: Column, srcEmail: Column = nullStr,
      props: Column = nullProps): Seq[Column] = Seq(
    lit(relType).as("rel_type"), lit(srcType).as("src_type"), srcId.as("src_id"),
    srcEmail.as("src_email"), lit(dstType).as("dst_type"), dstId.as("dst_id"),
    props.as("props"))

  private def assoc(raw: DataFrame, key: String): DataFrame =
    raw.select(col("id"),
      explode(col("associations").getItem(key)).as("a"))
      .select(col("id"), col("a").getField("id").as("other_id"))
      .filter(col("other_id").isNotNull)

  /** (Contact)-[:WORKS_AT]->(Company) via FK (graph_transformer.py:140-150). */
  def worksAt(contactsRaw: DataFrame): DataFrame =
    contactsRaw
      .select(col("id"), col("properties").getItem("associatedcompanyid").as("cid"))
      .filter(col("cid").isNotNull)
      .select(edge("WORKS_AT", "HUBSPOT_Contact", col("id"),
        "HUBSPOT_Company", col("cid")): _*)

  /** (X)-[:OWNED_BY]->(User) via hubspot_owner_id
    * (graph_transformer.py:128-138, 212-222, 252-262). */
  def ownedBy(nodes: DataFrame, srcType: String): DataFrame =
    nodes.filter(col("owner_id").isNotNull)
      .select(edge("OWNED_BY", srcType, col("hubspot_id"),
        "HUBSPOT_User", col("owner_id")): _*)

  /** (Contact)-[:ASSOCIATED_WITH]->(Deal) — emitted from BOTH the contact
    * and the deal association arrays, deduped (graph_transformer.py:155-165,
    * 276-286; MERGE-dedup in the reference). The (contact, deal) pairs are
    * deduplicated before the literal columns are added, so a filter on
    * `rel_type` folds against the literal and prunes this branch whole. */
  def associatedWith(contactsRaw: DataFrame, dealsRaw: DataFrame): DataFrame = {
    val fromContacts = assoc(contactsRaw, "deals")
      .select(col("id").as("src_id"), col("other_id").as("dst_id"))
    val fromDeals = assoc(dealsRaw, "contacts")
      .select(col("other_id").as("src_id"), col("id").as("dst_id"))
    fromContacts.unionByName(fromDeals).distinct()
      .select(edge("ASSOCIATED_WITH", "HUBSPOT_Contact", col("src_id"),
        "HUBSPOT_Deal", col("dst_id")): _*)
  }

  /** (Deal)-[:BELONGS_TO]->(Company) (graph_transformer.py:264-275). */
  def belongsTo(dealsRaw: DataFrame): DataFrame =
    assoc(dealsRaw, "companies")
      .select(edge("BELONGS_TO", "HUBSPOT_Deal", col("id"),
        "HUBSPOT_Company", col("other_id")): _*)

  /** (Activity)-[:INVOLVES]->(Contact|Company) (graph_transformer.py:334-357). */
  def involves(engagementsRaw: DataFrame): DataFrame =
    assoc(engagementsRaw, "contacts")
      .select(edge("INVOLVES", "HUBSPOT_Activity", col("id"),
        "HUBSPOT_Contact", col("other_id")): _*)
      .unionByName(assoc(engagementsRaw, "companies")
        .select(edge("INVOLVES", "HUBSPOT_Activity", col("id"),
          "HUBSPOT_Company", col("other_id")): _*))

  /** (Activity)-[:RELATED_TO]->(Deal) (graph_transformer.py:359-368). */
  def relatedTo(engagementsRaw: DataFrame): DataFrame =
    assoc(engagementsRaw, "deals")
      .select(edge("RELATED_TO", "HUBSPOT_Activity", col("id"),
        "HUBSPOT_Deal", col("other_id")): _*)

  /** (Contact)-[:PERFORMED]->(Email{Open,Click}Event) keyed by email
    * (graph_transformer.py:410-418, 444-452). */
  def performed(eventNodes: DataFrame, dstType: String): DataFrame =
    eventNodes.select(edge("PERFORMED", "HUBSPOT_Contact", nullStr,
      dstType, col("hubspot_id"), srcEmail = col("recipient_email")): _*)

  /** (Email*Event)-[:FOR_CAMPAIGN]->(EmailCampaign)
    * (graph_transformer.py:420-428, 454-462). */
  def forCampaign(eventNodes: DataFrame, srcType: String): DataFrame =
    eventNodes.filter(col("campaign_id").isNotNull)
      .select(edge("FOR_CAMPAIGN", srcType, col("hubspot_id"),
        "HUBSPOT_EmailCampaign", col("campaign_id")): _*)

  /** (EmailClickEvent)-[:CLICKED_URL]->(WebPage) (graph_transformer.py:464-475). */
  def clickedUrl(clickNodes: DataFrame): DataFrame =
    clickNodes.filter(col("clicked_url").isNotNull)
      .select(edge("CLICKED_URL", "HUBSPOT_EmailClickEvent", col("hubspot_id"),
        "HUBSPOT_WebPage", col("clicked_url")): _*)

  /** (FormSubmission)-[:SUBMITTED_BY]->(Contact) by normalized email
    * (graph_transformer.py:501-558). */
  def submittedBy(formNodes: DataFrame): DataFrame =
    // dst contact is resolved by email: the resolver reads src_email
    formNodes.select(edge("SUBMITTED_BY", "HUBSPOT_FormSubmission", col("hubspot_id"),
      "HUBSPOT_Contact", nullStr, srcEmail = col("email")): _*)

  /** (FormSubmission)-[:ON_PAGE]->(WebPage) (graph_transformer.py:562-574). */
  def onPage(formNodes: DataFrame): DataFrame =
    formNodes.filter(col("page_url").isNotNull)
      .select(edge("ON_PAGE", "HUBSPOT_FormSubmission", col("hubspot_id"),
        "HUBSPOT_WebPage", col("page_url")): _*)

  /** (Contact)-[:VISITED]->(WebPage) — legacy last-visit edge with props
    * (graph_transformer.py:167-180). */
  def visited(contactNodes: DataFrame): DataFrame =
    contactNodes.filter(col("first_page_seen").isNotNull)
      .select(edge("VISITED", "HUBSPOT_Contact", col("hubspot_id"),
        "HUBSPOT_WebPage", col("first_page_seen"),
        props = map(lit("source"), coalesce(col("source"), lit("unknown")))): _*)

  /** The contact-email dimension email-keyed edges resolve against:
    * one `(c_email, c_id)` row per email, the smallest contact id.
    *
    * The broadcast hint is gated on the optimizer's size estimate: a
    * forced `broadcast()` on a 1B-contact dim is a driver OOM, not a
    * fallback (round-3 verdict #3). Under the session's
    * autoBroadcastJoinThreshold we hint (the estimate for a post-agg dim
    * is conservative and the hint skips a pointless shuffle); over it the
    * join is left unhinted, where AQE still upgrades to a broadcast at
    * runtime if the aggregated dim turns out small — that IS the graceful
    * degradation SCALE.md §2 claims. */
  def contactEmails(contactNodes: DataFrame): DataFrame = {
    val dim = contactNodes.filter(col("email").isNotNull)
      .groupBy(col("email").as("c_email"))
      .agg(min("hubspot_id").as("c_id"))
    val conf = dim.sparkSession.sessionState.conf
    val fits = conf.autoBroadcastJoinThreshold > 0 &&
      dim.queryExecution.optimizedPlan.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold
    if (fits) broadcast(dim) else dim
  }

  /** J2 — resolve one email-keyed part (PERFORMED or SUBMITTED_BY) to
    * contact ids with one hash join against `emails` ([[contactEmails]])
    * (replaces the reference's driver-side dict probe). The contact's id
    * lands in `endpoint`: `src_id` for PERFORMED, whose email names the
    * source contact, `dst_id` for SUBMITTED_BY; edges whose email matches
    * no contact are dropped. */
  def resolveEmailEdges(part: DataFrame, emails: DataFrame, endpoint: String): DataFrame =
    part.join(emails, col("src_email") === col("c_email"), "inner")
      .withColumn(endpoint, col("c_id"))
      .select(part.columns.map(col): _*)

  /** J6 — keep only edges whose endpoints exist (bulk existence probe,
    * temporal_loader.py:268-311): two semi-joins against the node-id union. */
  def validate(edges: DataFrame, nodeIds: DataFrame): DataFrame = {
    val ids = nodeIds.select(col("node_type"), col("hubspot_id"))
    edges
      .join(ids.withColumnRenamed("node_type", "src_type")
        .withColumnRenamed("hubspot_id", "src_id"), Seq("src_type", "src_id"), "left_semi")
      .join(ids.withColumnRenamed("node_type", "dst_type")
        .withColumnRenamed("hubspot_id", "dst_id"), Seq("dst_type", "dst_id"), "left_semi")
  }
}
