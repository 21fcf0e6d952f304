package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL front door (round-11 verdict #6): the reference's query
  * surface is STRINGS dispatched by name (reporting/queries.py:8-334,
  * query_ownership.py:24-152, query_temporal.py:31-325 — Cypher texts a
  * user reads, edits, and pastes); ours was Scala functions only. This
  * object gives the catalog that second, user-shaped entry point: the
  * graph tables registered as temp views and every reference query as a
  * `spark.sql`-runnable ANSI text, each parity-tested ROW-IDENTICAL
  * against its DataFrame twin (QuerySqlSpec). The texts state the same
  * plans the twins build — broadcast hints where the twin broadcasts,
  * pre-aggregated join shapes where the twin pre-aggregates (the
  * userOwnership cross-product fix carries over verbatim) — so a SQL
  * user inherits the same 100 TB discipline, not a naive re-derivation.
  *
  * Parameter values are inlined as escaped literals via [[sqlLit]].
  * (The reference itself does NOT interpolate: neo4j_reporter passes
  * parameters to session.run as bound Cypher parameters — the safe
  * path. Spark's public `sql()` has no bind API for these texts, so
  * this front door inlines, and the escaping must therefore be
  * complete: see sqlLit.)
  */
object QuerySql {

  /** Single-quoted SQL literal, fully escaped for Spark's DEFAULT
    * parser (spark.sql.parser.escapedStringLiterals=false), where
    * backslash is an escape character INSIDE string literals: both the
    * backslash and the quote must be escaped, in that order —
    * quote-doubling alone would let a needle ending in '\' produce
    * `'x\'`, whose \' escapes the closing quote and never terminates
    * the literal (the classic breakout). Control characters that can
    * end a literal early or smuggle line comments are escaped too. */
  private[query] def sqlLit(s: String): String =
    "'" + s.flatMap {
      case '\\' => "\\\\"
      case '\'' => "\\'"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\u0000' => "\\0"
      case c => c.toString
    } + "'"

  private val ownerName = "concat_ws(' ', first_name, last_name)"

  /** The shared per-owner WHERE (ReportQueries.ownerNameFilter): an
    * `id:<hubspot_id>` needle selects that exact user, anything else
    * substring-matches first or last name. */
  private def ownerNameFilter(needle: String): String =
    if (needle.startsWith("id:"))
      s"hubspot_id = ${sqlLit(needle.stripPrefix("id:"))}"
    else
      s"(contains(first_name, ${sqlLit(needle)}) OR contains(last_name, ${sqlLit(needle)}))"

  private def matchedOwners(needle: String): String =
    s"""SELECT /*+ BROADCAST */ hubspot_id AS owner_key, email AS owner_email,
       $ownerName AS owner_name
       FROM users WHERE ${ownerNameFilter(needle)}"""

  /** Register the transformed graph tables as the session's temp views —
    * the names every text below reads. */
  def registerViews(g: GraphTables): Unit = {
    g.users.createOrReplaceTempView("users")
    g.contacts.createOrReplaceTempView("contacts")
    g.companies.createOrReplaceTempView("companies")
    g.deals.createOrReplaceTempView("deals")
    g.activities.createOrReplaceTempView("activities")
    g.campaigns.createOrReplaceTempView("campaigns")
    g.webPages.createOrReplaceTempView("web_pages")
    g.opens.createOrReplaceTempView("email_opens")
    g.clicks.createOrReplaceTempView("email_clicks")
    g.forms.createOrReplaceTempView("form_submissions")
    g.edges.createOrReplaceTempView("edges")
  }

  /** Register one entity's SCD tables + the relationship CDC log for the
    * temporal texts. `current` and `history` must share a schema (the
    * ScdLoader contract). */
  def registerTemporalViews(current: DataFrame, history: DataFrame,
      relChanges: DataFrame): Unit = {
    current.createOrReplaceTempView("nodes_current")
    history.createOrReplaceTempView("nodes_history")
    relChanges.createOrReplaceTempView("rel_changes")
  }

  // ---- reporting/queries.py (13) -----------------------------------

  /** reporting/queries.py:273-295 — ReportQueries.findOwner. */
  def findOwner(needle: String): String =
    s"""SELECT hubspot_id, $ownerName AS owner_name, email, active, teams
       FROM users
       WHERE ${ownerNameFilter(needle)} OR contains(email, ${sqlLit(needle)})
       ORDER BY hubspot_id"""

  /** reporting/queries.py:9-33 — ReportQueries.contactsByOwner. */
  def contactsByOwner(needle: String): String =
    s"""SELECT o.owner_email, o.owner_name, c.hubspot_id AS contact_id,
         c.email AS contact_email, c.first_name AS contact_first_name,
         c.last_name AS contact_last_name, c.job_title, c.lifecycle_stage,
         c.created_date, c.last_modified
       FROM contacts c JOIN (${matchedOwners(needle)}) o
         ON c.owner_id = o.owner_key
       ORDER BY c.created_date DESC NULLS LAST, contact_id"""

  /** reporting/queries.py:35-64 — ReportQueries.companiesByOwner. */
  def companiesByOwner(needle: String): String =
    s"""SELECT o.owner_email, o.owner_name, c.hubspot_id AS company_id,
         c.name AS company_name, c.domain, c.industry, c.employee_count,
         c.annual_revenue, c.city, c.state, c.country, c.created_date,
         c.last_modified
       FROM companies c JOIN (${matchedOwners(needle)}) o
         ON c.owner_id = o.owner_key
       ORDER BY c.created_date DESC NULLS LAST, company_id"""

  /** reporting/queries.py:66-94 — ReportQueries.dealsByOwner. */
  def dealsByOwner(needle: String): String =
    s"""SELECT o.owner_email, o.owner_name, d.hubspot_id AS deal_id,
         d.name AS deal_name, d.amount, d.stage, d.pipeline, d.close_date,
         d.created_date, d.last_modified
       FROM deals d JOIN (${matchedOwners(needle)}) o
         ON d.owner_id = o.owner_key
       ORDER BY d.created_date DESC NULLS LAST, deal_id"""

  /** reporting/queries.py:96-119 — ReportQueries.ownerSummary. */
  def ownerSummary(needle: String): String =
    s"""SELECT owner_name, owner_email, active,
         count(DISTINCT c_id) AS contacts_owned,
         count(DISTINCT co_id) AS companies_owned,
         count(DISTINCT d_id) AS deals_owned
       FROM (SELECT hubspot_id AS owner_key, $ownerName AS owner_name,
               email AS owner_email, active
             FROM users WHERE ${ownerNameFilter(needle)}) u
       LEFT JOIN (SELECT hubspot_id AS c_id, owner_id AS c_own FROM contacts)
         ON c_own = owner_key
       LEFT JOIN (SELECT hubspot_id AS co_id, owner_id AS co_own FROM companies)
         ON co_own = owner_key
       LEFT JOIN (SELECT hubspot_id AS d_id, owner_id AS d_own FROM deals)
         ON d_own = owner_key
       GROUP BY owner_key, owner_name, owner_email, active
       ORDER BY owner_key"""

  /** reporting/queries.py:122-141 — ReportQueries.allOwnersSummary: one
    * row per owner from each entity table before the left joins. */
  val allOwnersSummary: String =
    s"""SELECT owner_key, owner_name, owner_email,
         coalesce(c, 0L) AS n_contacts,
         coalesce(co, 0L) AS n_companies,
         coalesce(d, 0L) AS n_deals,
         round(coalesce(value, 0.0d), 2) AS total_deal_value
       FROM (SELECT DISTINCT hubspot_id AS owner_key, $ownerName AS owner_name,
               email AS owner_email FROM users) u
       LEFT JOIN (SELECT owner_id AS c_own, count(DISTINCT hubspot_id) AS c
                  FROM contacts GROUP BY owner_id)
         ON c_own = owner_key
       LEFT JOIN (SELECT owner_id AS co_own, count(DISTINCT hubspot_id) AS co
                  FROM companies GROUP BY owner_id)
         ON co_own = owner_key
       LEFT JOIN (SELECT owner_id AS d_own, count(DISTINCT hubspot_id) AS d,
                    sum(amount) AS value
                  FROM deals GROUP BY owner_id)
         ON d_own = owner_key
       ORDER BY n_contacts DESC, owner_key"""

  /** reporting/queries.py:150-156 — ReportQueries.contactsByLifecycle. */
  val contactsByLifecycle: String =
    """SELECT lifecycle_stage, count(1) AS n FROM contacts
       GROUP BY lifecycle_stage ORDER BY n DESC, lifecycle_stage"""

  /** reporting/queries.py:165-172 — ReportQueries.companiesByIndustry. */
  val companiesByIndustry: String =
    """SELECT industry, count(1) AS n FROM companies
       WHERE industry IS NOT NULL
       GROUP BY industry ORDER BY n DESC, industry"""

  /** reporting/queries.py:175-195 — ReportQueries.recentFormSubmissions.
    * `asOf` is a SQL timestamp expression (e.g. "timestamp'2024-06-05
    * 00:00:00'") — F19 discipline, captured once per batch. */
  def recentFormSubmissions(asOf: String, days: Int = 30): String =
    s"""SELECT f.email AS contact_email, c.contact_name, f.form_guid AS form_id,
         f.form_name AS form_title, f.timestamp AS submission_date
       FROM form_submissions f
       JOIN (SELECT email, $ownerName AS contact_name FROM contacts) c
         ON f.email = c.email
       WHERE f.timestamp >= $asOf - INTERVAL $days DAYS
       ORDER BY submission_date DESC, form_id"""

  /** reporting/queries.py:197-220 — ReportQueries.recentEmailActivity. */
  def recentEmailActivity(asOf: String, days: Int = 30): String =
    s"""SELECT c.email AS contact_email, c.contact_name, u.owner_name,
         e.event_type, e.timestamp AS event_date, e.campaign_id
       FROM (SELECT email, $ownerName AS contact_name, owner_id FROM contacts) c
       JOIN (SELECT recipient_email, timestamp, campaign_id,
               'EmailOpenEvent' AS event_type FROM email_opens
             UNION ALL
             SELECT recipient_email, timestamp, campaign_id,
               'EmailClickEvent' AS event_type FROM email_clicks) e
         ON c.email = e.recipient_email
         AND e.timestamp >= $asOf - INTERVAL $days DAYS
       LEFT JOIN (SELECT /*+ BROADCAST */ hubspot_id AS owner_id,
               $ownerName AS owner_name FROM users) u
         ON c.owner_id = u.owner_id
       ORDER BY event_date DESC, contact_email, event_type"""

  /** reporting/queries.py:222-248 — ReportQueries.contactsWithRecentActivity. */
  def contactsWithRecentActivity(needle: String, asOf: String,
      days: Int = 30): String =
    s"""SELECT o.owner_email, c.email AS contact_email,
         concat_ws(' ', c.first_name, c.last_name) AS contact_name,
         c.lifecycle_stage, a.recent_activities
       FROM contacts c
       JOIN (${matchedOwners(needle)}) o ON c.owner_id = o.owner_key
       JOIN (SELECT email, count(1) AS recent_activities
             FROM (SELECT recipient_email AS email, timestamp FROM email_opens
                   UNION ALL
                   SELECT recipient_email AS email, timestamp FROM email_clicks
                   UNION ALL
                   SELECT email, timestamp FROM form_submissions)
             WHERE timestamp >= $asOf - INTERVAL $days DAYS
             GROUP BY email) a
         ON c.email = a.email
       ORDER BY recent_activities DESC, contact_email"""

  /** reporting/queries.py:250-271 — ReportQueries.contactEngagementHistory. */
  def contactEngagementHistory(contactEmail: String): String =
    s"""WITH c AS (SELECT hubspot_id AS contact_id, email AS contact_email,
           $ownerName AS contact_name
         FROM contacts WHERE email = ${sqlLit(contactEmail)}),
       ev AS (
         SELECT recipient_email AS contact_email, 'OPENED' AS engagement_type,
           'EmailOpenEvent' AS related_entity_type, hubspot_id AS related_id,
           timestamp, campaign_id AS detail FROM email_opens
         UNION ALL
         SELECT recipient_email, 'CLICKED', 'EmailClickEvent', hubspot_id,
           timestamp, clicked_url FROM email_clicks
         UNION ALL
         SELECT email, 'SUBMITTED', 'FormSubmission', hubspot_id,
           timestamp, form_name FROM form_submissions)
       SELECT c.contact_email, c.contact_name, ev.engagement_type,
         ev.related_entity_type, ev.related_id, ev.timestamp, ev.detail
       FROM ev JOIN c ON ev.contact_email = c.contact_email
       UNION ALL
       SELECT c.contact_email, c.contact_name, 'PERFORMED' AS engagement_type,
         a.type AS related_entity_type, e.src_id AS related_id, a.timestamp,
         a.details AS detail
       FROM c
       JOIN edges e ON e.rel_type = 'INVOLVES'
         AND e.dst_type = 'HUBSPOT_Contact' AND e.dst_id = c.contact_id
       JOIN activities a ON a.hubspot_id = e.src_id
       ORDER BY timestamp DESC NULLS LAST, engagement_type"""

  /** reporting/queries.py:298-334 — ReportQueries.combinedByOwner (the
    * documented intent of the reference's malformed Cypher). */
  def combinedByOwner(needle: String): String =
    s"""SELECT t.entity_type, t.identifier, t.name, t.status, t.created_date,
         o.owner_name, o.owner_email
       FROM (SELECT 'contact' AS entity_type, email AS identifier,
               $ownerName AS name, lifecycle_stage AS status, created_date,
               owner_id
             FROM contacts
             UNION ALL
             SELECT 'company', domain, name, industry, created_date, owner_id
             FROM companies) t
       JOIN (${matchedOwners(needle)}) o ON t.owner_id = o.owner_key
       ORDER BY created_date DESC NULLS LAST, entity_type, identifier"""

  // ---- query_ownership.py (8) --------------------------------------

  private val ownerDim =
    s"""SELECT /*+ BROADCAST */ hubspot_id AS owner_key, email AS owner_email,
       first_name AS owner_first_name, last_name AS owner_last_name
       FROM users"""

  /** query_ownership.py:24-37 — OwnershipQueries.contactOwner. */
  def contactOwner(email: String): String =
    s"""SELECT c.first_name, c.last_name, c.email, u.owner_email,
         u.owner_first_name, u.owner_last_name
       FROM (SELECT first_name, last_name, email, owner_id FROM contacts
             WHERE email = ${sqlLit(email)}) c
       JOIN ($ownerDim) u ON c.owner_id = u.owner_key"""

  /** query_ownership.py:39-52 — OwnershipQueries.companyOwner. */
  def companyOwner(nameNeedle: String): String =
    s"""SELECT c.name, c.domain, u.owner_email, u.owner_first_name,
         u.owner_last_name
       FROM (SELECT name, domain, owner_id FROM companies
             WHERE contains(name, ${sqlLit(nameNeedle)})) c
       JOIN ($ownerDim) u ON c.owner_id = u.owner_key
       ORDER BY name"""

  /** query_ownership.py:54-68 — OwnershipQueries.dealOwner. */
  def dealOwner(nameNeedle: String): String =
    s"""SELECT d.name, d.amount, d.stage, u.owner_email, u.owner_first_name,
         u.owner_last_name
       FROM (SELECT name, amount, stage, owner_id FROM deals
             WHERE contains(name, ${sqlLit(nameNeedle)})) d
       JOIN ($ownerDim) u ON d.owner_id = u.owner_key
       ORDER BY name"""

  /** query_ownership.py:70-89 — OwnershipQueries.userOwnership. Same
    * pre-aggregated shape as the twin: each fact table reduces to one
    * row per owner BEFORE joining (the reference's OPTIONAL MATCH chain
    * inflates sum(amount) by the contact x company cross product). */
  def userOwnership(userEmail: String): String =
    s"""WITH u AS (SELECT hubspot_id AS owner_key, $ownerName AS owner,
           email FROM users WHERE email = ${sqlLit(userEmail)}),
       ca AS (SELECT owner_id AS c_own, sort_array(collect_set(email)) AS contacts,
                count(DISTINCT email) AS contact_count
              FROM contacts WHERE owner_id IN (SELECT owner_key FROM u)
              GROUP BY owner_id),
       coa AS (SELECT owner_id AS co_own, sort_array(collect_set(name)) AS companies,
                count(DISTINCT hubspot_id) AS company_count
              FROM companies WHERE owner_id IN (SELECT owner_key FROM u)
              GROUP BY owner_id),
       da AS (SELECT owner_id AS d_own, sort_array(collect_set(name)) AS deals,
                count(DISTINCT hubspot_id) AS deal_count,
                sum(amount) AS total_deal_value
              FROM deals WHERE owner_id IN (SELECT owner_key FROM u)
              GROUP BY owner_id)
       SELECT u.owner, u.email,
         coalesce(ca.contacts, CAST(array() AS array<string>)) AS contacts,
         coalesce(coa.companies, CAST(array() AS array<string>)) AS companies,
         coalesce(da.deals, CAST(array() AS array<string>)) AS deals,
         coalesce(ca.contact_count, 0L) AS contact_count,
         coalesce(coa.company_count, 0L) AS company_count,
         coalesce(da.deal_count, 0L) AS deal_count,
         da.total_deal_value
       FROM u LEFT JOIN ca ON ca.c_own = u.owner_key
       LEFT JOIN coa ON coa.co_own = u.owner_key
       LEFT JOIN da ON da.d_own = u.owner_key"""

  /** query_ownership.py:91-108 — OwnershipQueries.allOwnerships. */
  val allOwnerships: String =
    s"""SELECT owner, email,
         coalesce(n_contacts, 0L) AS contacts,
         coalesce(n_companies, 0L) AS companies,
         coalesce(n_deals, 0L) AS deals,
         total_pipeline_value
       FROM (SELECT hubspot_id AS owner_key, $ownerName AS owner, email
             FROM users) u
       LEFT JOIN (SELECT /*+ BROADCAST */ owner_id AS c_own,
               count(DISTINCT hubspot_id) AS n_contacts
             FROM contacts GROUP BY owner_id) ON c_own = owner_key
       LEFT JOIN (SELECT /*+ BROADCAST */ owner_id AS co_own,
               count(DISTINCT hubspot_id) AS n_companies
             FROM companies GROUP BY owner_id) ON co_own = owner_key
       LEFT JOIN (SELECT /*+ BROADCAST */ owner_id AS d_own,
               count(DISTINCT hubspot_id) AS n_deals,
               sum(amount) AS total_pipeline_value
             FROM deals GROUP BY owner_id) ON d_own = owner_key
       ORDER BY total_pipeline_value DESC NULLS LAST, owner_key"""

  /** query_ownership.py:110-123 — OwnershipQueries.contactsWithOwners. */
  def contactsWithOwners(limit: Int = 100): String =
    s"""SELECT concat_ws(' ', c.first_name, c.last_name) AS contact_name,
         c.email, u.owner, c.hubspot_id AS contact_id
       FROM contacts c
       JOIN (SELECT /*+ BROADCAST */ hubspot_id AS owner_key,
               $ownerName AS owner FROM users) u
         ON c.owner_id = u.owner_key
       ORDER BY contact_id LIMIT $limit"""

  /** query_ownership.py:125-137 — OwnershipQueries.companiesWithOwners. */
  def companiesWithOwners(limit: Int = 100): String =
    s"""SELECT c.name, c.domain, c.industry, u.owner,
         c.hubspot_id AS company_id
       FROM companies c
       JOIN (SELECT /*+ BROADCAST */ hubspot_id AS owner_key,
               $ownerName AS owner FROM users) u
         ON c.owner_id = u.owner_key
       ORDER BY company_id LIMIT $limit"""

  /** query_ownership.py:139-152 — OwnershipQueries.dealsWithOwners. */
  def dealsWithOwners(limit: Int = 100): String =
    s"""SELECT d.name, d.amount, d.stage, d.close_date, u.owner,
         d.hubspot_id AS deal_id
       FROM deals d
       JOIN (SELECT /*+ BROADCAST */ hubspot_id AS owner_key,
               $ownerName AS owner FROM users) u
         ON d.owner_id = u.owner_key
       ORDER BY amount DESC NULLS LAST, deal_id LIMIT $limit"""

  // ---- query_temporal.py (11) --------------------------------------

  private val currentOnly =
    "is_current AND (is_deleted IS NULL OR NOT is_deleted)"

  /** query_temporal.py:31-48 — TemporalQueries.currentEntities. */
  def currentEntities(limit: Int): String =
    s"""SELECT * FROM nodes_current WHERE $currentOnly
       ORDER BY valid_from DESC, hubspot_id LIMIT $limit"""

  /** query_temporal.py:50-69 — TemporalQueries.entityHistory (current
    * and history views must share a schema — the ScdLoader contract). */
  def entityHistory(id: String): String =
    s"""SELECT * FROM nodes_current WHERE hubspot_id = ${sqlLit(id)}
       UNION ALL
       SELECT * FROM nodes_history WHERE hubspot_id = ${sqlLit(id)}
       ORDER BY valid_from DESC"""

  /** query_temporal.py:71-87 — TemporalQueries.deletedEntities. */
  val deletedEntities: String =
    """SELECT * FROM nodes_current WHERE coalesce(is_deleted, false)
       ORDER BY valid_to DESC, hubspot_id"""

  /** query_temporal.py:89-110 — TemporalQueries.recentChanges. `cutoff`
    * is a SQL timestamp expression. */
  def recentChanges(cutoff: String, limit: Int): String =
    s"""SELECT * FROM nodes_current WHERE valid_from > $cutoff
       ORDER BY valid_from DESC, hubspot_id LIMIT $limit"""

  /** query_temporal.py:112-133 — TemporalQueries.recentRelationshipChanges. */
  def recentRelationshipChanges(limit: Int = 20): String =
    s"""SELECT * FROM rel_changes
       ORDER BY changed_at DESC, relationship_type, from_entity_id,
         to_entity_id
       LIMIT $limit"""

  /** query_temporal.py:135-157 — TemporalQueries.entityRelationshipHistory. */
  def entityRelationshipHistory(entityType: String, entityId: String): String =
    s"""SELECT * FROM rel_changes
       WHERE (from_entity_type = ${sqlLit(entityType)}
              AND from_entity_id = ${sqlLit(entityId)})
          OR (to_entity_type = ${sqlLit(entityType)}
              AND to_entity_id = ${sqlLit(entityId)})
       ORDER BY changed_at ASC, relationship_type, to_entity_id"""

  /** query_temporal.py:159-189 — TemporalQueries.ownershipChanges. */
  def ownershipChanges(entityType: Option[String] = None,
      entityId: Option[String] = None): String = {
    val scoped = Seq(
      entityType.map(t => s"from_entity_type = ${sqlLit(t)}"),
      entityId.map(id => s"from_entity_id = ${sqlLit(id)}")
    ).flatten.map(" AND " + _).mkString
    s"""SELECT from_entity_id AS entity_id, change_type,
         to_entity_id AS owner_id, changed_at
       FROM rel_changes
       WHERE relationship_type = 'OWNED_BY'$scoped
       ORDER BY changed_at ASC, entity_id"""
  }

  /** query_temporal.py:191-206 — TemporalQueries.relationshipChangeStats. */
  val relationshipChangeStats: String =
    """SELECT relationship_type, change_type, count(1) AS n
       FROM rel_changes
       GROUP BY relationship_type, change_type
       ORDER BY relationship_type, change_type"""

  /** query_temporal.py:208-239 — TemporalQueries.compareVersions over the
    * given business fields: latest history row per entity (window), then
    * the field-by-field diff exploded to (field, old, new) rows. */
  def compareVersions(fields: Seq[String]): String = {
    val structs = fields.map(f =>
      s"struct(${sqlLit(f)} AS field, CAST(p.$f AS string) AS old_value, " +
        s"CAST(c.$f AS string) AS new_value)").mkString(", ")
    s"""WITH prev AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY hubspot_id
             ORDER BY valid_to DESC, valid_from DESC) AS rn
           FROM nodes_history) WHERE rn = 1)
       SELECT hubspot_id, d.field AS field, d.old_value AS old_value,
         d.new_value AS new_value
       FROM (SELECT c.hubspot_id, explode(array($structs)) AS d
             FROM nodes_current c JOIN prev p ON c.hubspot_id = p.hubspot_id)
       WHERE NOT (d.old_value <=> d.new_value)
       ORDER BY hubspot_id, field"""
  }

  /** query_temporal.py:251-280 — TemporalQueries.entityLifecycle. */
  val entityLifecycle: String =
    """SELECT c.hubspot_id,
         coalesce(h.n_history, 0L) + 1 AS version_count,
         c.valid_from, coalesce(c.is_deleted, false) AS is_deleted
       FROM nodes_current c
       LEFT JOIN (SELECT hubspot_id, count(1) AS n_history
                  FROM nodes_history GROUP BY hubspot_id) h
         ON c.hubspot_id = h.hubspot_id
       ORDER BY version_count DESC, hubspot_id"""

  /** query_temporal.py:282-325 — TemporalQueries.temporalStatistics: the
    * reference's 16 Bolt round trips as ONE union text over the named
    * entity tables, each registered as `<name>_current` / `<name>_history`. */
  def temporalStatistics(names: Seq[String]): String =
    names.sorted.map { n =>
      s"""SELECT ${sqlLit(n)} AS entity_type, n_rows, n_deleted, n_history
         FROM (SELECT count(1) AS n_rows,
                 sum(CASE WHEN coalesce(is_deleted, false) THEN 1 ELSE 0 END)
                   AS n_deleted
               FROM ${n}_current)
         CROSS JOIN (SELECT count(1) AS n_history FROM ${n}_history)"""
    }.mkString("", "\nUNION ALL\n", "\nORDER BY entity_type")
}
