package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's point-lookup ownership surface
  * (query_ownership.py:24-152), one DataFrame function per Cypher query.
  *
  * Shapes: P6 point filters + J1 FK equi-joins. `users` is always the
  * broadcast side — it is the smallest dimension in every CRM portal —
  * and the fact side keeps its partitioning, so each lookup is one
  * shuffle-free broadcast-hash-join pass at any scale.
  */
object OwnershipQueries {

  private def ownerName: Column = concat_ws(" ", col("first_name"), col("last_name"))

  /** Users projected to the broadcastable owner dimension. */
  private def ownerDim(users: DataFrame): DataFrame =
    broadcast(users.select(col("hubspot_id").as("owner_key"),
      col("email").as("owner_email"),
      col("first_name").as("owner_first_name"),
      col("last_name").as("owner_last_name")))

  /** Owner of one contact by exact email (query_ownership.py:24-37). */
  def contactOwner(g: GraphTables, email: String): DataFrame = answer {
    g.contacts.filter(col("email") === email)
      .select(col("first_name"), col("last_name"), col("email"), col("owner_id"))
      .join(ownerDim(g.users), col("owner_id") === col("owner_key"))
      .select(col("first_name"), col("last_name"), col("email"),
        col("owner_email"), col("owner_first_name"), col("owner_last_name"))
  }

  /** Owner of companies matching a name substring (query_ownership.py:39-52). */
  def companyOwner(g: GraphTables, nameNeedle: String): DataFrame = answer {
    g.companies.filter(col("name").contains(nameNeedle))
      .select(col("name"), col("domain"), col("owner_id"))
      .join(ownerDim(g.users), col("owner_id") === col("owner_key"))
      .select(col("name"), col("domain"),
        col("owner_email"), col("owner_first_name"), col("owner_last_name"))
      .orderBy("name")
  }

  /** Owner of deals matching a name substring (query_ownership.py:54-68). */
  def dealOwner(g: GraphTables, nameNeedle: String): DataFrame = answer {
    g.deals.filter(col("name").contains(nameNeedle))
      .select(col("name"), col("amount"), col("stage"), col("owner_id"))
      .join(ownerDim(g.users), col("owner_id") === col("owner_key"))
      .select(col("name"), col("amount"), col("stage"),
        col("owner_email"), col("owner_first_name"), col("owner_last_name"))
      .orderBy("name")
  }

  /** Everything one user owns: rosters + counts + pipeline value
    * (query_ownership.py:70-89).
    *
    * The reference Cypher chains three OPTIONAL MATCHes and then
    * `sum(d.amount)` over the cross product, inflating the total by
    * n_contacts x n_companies for any owner with more than one of each
    * (its DISTINCT protects only the counts). We aggregate each entity
    * table per owner FIRST and then join the one-row-per-owner results —
    * correct totals, and the only shape that works at scale: each fact
    * table is reduced to |owners| rows before any join, instead of
    * materializing a three-way row explosion. */
  def userOwnership(g: GraphTables, userEmail: String): DataFrame = answer {
    val u = g.users.filter(col("email") === userEmail)
      .select(col("hubspot_id").as("owner_key"), ownerName.as("owner"),
        col("email"))
    // Filter each fact scan down to the one requested owner before its
    // per-owner aggregate: broadcast semi-join against the 1-row user dim.
    def owned(df: DataFrame): DataFrame =
      df.join(broadcast(u.select(col("owner_key"))),
        col("owner_id") === col("owner_key"), "left_semi")
    val contactAgg = owned(g.contacts).groupBy(col("owner_id").as("c_own"))
      .agg(sort_array(collect_set(col("email"))).as("contacts"),
        countDistinct("email").as("contact_count"))
    val companyAgg = owned(g.companies).groupBy(col("owner_id").as("co_own"))
      .agg(sort_array(collect_set(col("name"))).as("companies"),
        countDistinct("hubspot_id").as("company_count"))
    val dealAgg = owned(g.deals).groupBy(col("owner_id").as("d_own"))
      .agg(sort_array(collect_set(col("name"))).as("deals"),
        countDistinct("hubspot_id").as("deal_count"),
        sum("amount").as("total_deal_value"))
    u.join(contactAgg, col("c_own") === col("owner_key"), "left")
      .join(companyAgg, col("co_own") === col("owner_key"), "left")
      .join(dealAgg, col("d_own") === col("owner_key"), "left")
      .select(col("owner"), col("email"),
        coalesce(col("contacts"), array().cast("array<string>")).as("contacts"),
        coalesce(col("companies"), array().cast("array<string>")).as("companies"),
        coalesce(col("deals"), array().cast("array<string>")).as("deals"),
        coalesce(col("contact_count"), lit(0L)).as("contact_count"),
        coalesce(col("company_count"), lit(0L)).as("company_count"),
        coalesce(col("deal_count"), lit(0L)).as("deal_count"),
        col("total_deal_value"))
  }

  /** Ownership summary for every user, by pipeline value
    * (query_ownership.py:91-108). Same pre-aggregated shape as
    * [[userOwnership]] — `sum(amount)` must see each deal row exactly
    * once, not once per (contact, company) pair. */
  def allOwnerships(g: GraphTables): DataFrame = answer {
    val u = g.users.select(col("hubspot_id").as("owner_key"), ownerName.as("owner"),
      col("email"))
    val contactAgg = g.contacts.groupBy(col("owner_id").as("c_own"))
      .agg(countDistinct("hubspot_id").as("n_contacts"))
    val companyAgg = g.companies.groupBy(col("owner_id").as("co_own"))
      .agg(countDistinct("hubspot_id").as("n_companies"))
    val dealAgg = g.deals.groupBy(col("owner_id").as("d_own"))
      .agg(countDistinct("hubspot_id").as("n_deals"),
        sum("amount").as("total_pipeline_value"))
    // The per-owner aggregates are |owners|-sized regardless of fact-table
    // scale — broadcast them onto the user dimension.
    u.join(broadcast(contactAgg), col("c_own") === col("owner_key"), "left")
      .join(broadcast(companyAgg), col("co_own") === col("owner_key"), "left")
      .join(broadcast(dealAgg), col("d_own") === col("owner_key"), "left")
      .select(col("owner_key"), col("owner"), col("email"),
        coalesce(col("n_contacts"), lit(0L)).as("contacts"),
        coalesce(col("n_companies"), lit(0L)).as("companies"),
        coalesce(col("n_deals"), lit(0L)).as("deals"),
        col("total_pipeline_value"))
      .orderBy(desc_nulls_last("total_pipeline_value"), col("owner_key"))
      .drop("owner_key")
  }

  /** All contacts with their owners (query_ownership.py:110-123). */
  def contactsWithOwners(g: GraphTables, limit: Int = 100): DataFrame = answer {
    g.contacts
      .join(broadcast(g.users.select(col("hubspot_id").as("owner_key"),
        ownerName.as("owner"))), col("owner_id") === col("owner_key"))
      .select(ownerName.as("contact_name"), col("email"), col("owner"),
        col("hubspot_id").as("contact_id"))
      .orderBy("contact_id")
      .limit(limit)
  }

  /** All companies with their owners (query_ownership.py:125-137). */
  def companiesWithOwners(g: GraphTables, limit: Int = 100): DataFrame = answer {
    g.companies
      .join(broadcast(g.users.select(col("hubspot_id").as("owner_key"),
        ownerName.as("owner"))), col("owner_id") === col("owner_key"))
      .select(col("name"), col("domain"), col("industry"), col("owner"),
        col("hubspot_id").as("company_id"))
      .orderBy("company_id")
      .limit(limit)
  }

  /** Top deals with their owners, by amount (query_ownership.py:139-152). */
  def dealsWithOwners(g: GraphTables, limit: Int = 100): DataFrame = answer {
    g.deals
      .join(broadcast(g.users.select(col("hubspot_id").as("owner_key"),
        ownerName.as("owner"))), col("owner_id") === col("owner_key"))
      .select(col("name"), col("amount"), col("stage"), col("close_date"), col("owner"),
        col("hubspot_id").as("deal_id"))
      .orderBy(desc_nulls_last("amount"), col("deal_id"))
      .limit(limit)
  }
}
