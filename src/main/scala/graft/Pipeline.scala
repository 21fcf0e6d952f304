package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.transform.{EdgeBuilder, GraphTransform => GT}
import graft.temporal.ScdLoader
import graft.query.GraphTables

/** End-to-end batch pipeline mirroring the reference's `main.py`
  * (SURVEY.md §3.1): read raw CRM JSON -> per-entity transforms -> edge
  * build + email resolution + validation -> SCD load against the state
  * directory -> verification counts.
  *
  * Usage: `runMain graft.Pipeline <rawDir> <stateDir>` where rawDir holds
  * contacts.json companies.json deals.json engagements.json users.json
  * email_events.json form_submissions.json (reference data/raw shapes,
  * FIXTURES.md §A).
  */
object Pipeline {

  /** Pure transform stage: raw frames -> node tables + resolved edges,
    * held per relationship type ([[GraphTables]]). */
  def transformAll(
      usersRaw: DataFrame, contactsRaw: DataFrame, companiesRaw: DataFrame,
      dealsRaw: DataFrame, engagementsRaw: DataFrame, eventsRaw: DataFrame,
      formsRaw: DataFrame): GraphTables = {
    val users = GT.users(usersRaw)
    val contacts = GT.contacts(contactsRaw)
    val companies = GT.companies(companiesRaw)
    val deals = GT.deals(dealsRaw)
    val activities = GT.activities(engagementsRaw)
    val opens = GT.emailOpens(eventsRaw)
    val clicks = GT.emailClicks(eventsRaw)
    val forms = GT.formSubmissions(formsRaw)
    val campaigns = GT.emailCampaigns(
      eventsRaw.withColumn("campaign_id", col("emailCampaignId")))
    val pages = GT.webPages(clicks, forms, contacts)

    // One frame per relationship type, each built the first time it is
    // read: an ask over one type plans its own builders, and only the
    // full union (the load) plans them all. The two email-keyed parts
    // resolve against one shared contact-email dimension.
    lazy val emails = EdgeBuilder.contactEmails(contacts)
    val edges = GraphTables.EdgeParts(
      "WORKS_AT" -> (() => EdgeBuilder.worksAt(contactsRaw)),
      "ASSOCIATED_WITH" -> (() => EdgeBuilder.associatedWith(contactsRaw, dealsRaw)),
      "BELONGS_TO" -> (() => EdgeBuilder.belongsTo(dealsRaw)),
      "OWNED_BY" -> (() => EdgeBuilder.ownedBy(contacts, "HUBSPOT_Contact")
        .unionByName(EdgeBuilder.ownedBy(companies, "HUBSPOT_Company"))
        .unionByName(EdgeBuilder.ownedBy(deals, "HUBSPOT_Deal"))),
      "INVOLVES" -> (() => EdgeBuilder.involves(engagementsRaw)),
      "RELATED_TO" -> (() => EdgeBuilder.relatedTo(engagementsRaw)),
      "PERFORMED" -> (() => EdgeBuilder.resolveEmailEdges(
        EdgeBuilder.performed(opens, "HUBSPOT_EmailOpenEvent")
          .unionByName(EdgeBuilder.performed(clicks, "HUBSPOT_EmailClickEvent")),
        emails, "src_id")),
      "FOR_CAMPAIGN" -> (() => EdgeBuilder.forCampaign(opens, "HUBSPOT_EmailOpenEvent")
        .unionByName(EdgeBuilder.forCampaign(clicks, "HUBSPOT_EmailClickEvent"))),
      "CLICKED_URL" -> (() => EdgeBuilder.clickedUrl(clicks)),
      "SUBMITTED_BY" -> (() => EdgeBuilder.resolveEmailEdges(
        EdgeBuilder.submittedBy(forms), emails, "dst_id")),
      "ON_PAGE" -> (() => EdgeBuilder.onPage(forms)),
      "VISITED" -> (() => EdgeBuilder.visited(contacts)))

    GraphTables(users, contacts, companies, deals, activities, campaigns,
      pages, opens, clicks, forms, edges)
  }

  private[graft] def fileExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The `current_<name>` table for a state dir, read by path with its
    * footer schema ([[Graft.parquet]], no schema job). Read-only:
    * a crashed swap is resolved non-destructively (the marker-certified
    * `.next` is read in place) — readers must never join the swap
    * protocol, or a report racing a load could interleave destructively
    * with the writer's rename. The next WRITER ([[run]]) rolls the rename
    * forward. */
  def currentTable(spark: SparkSession, stateDir: String, name: String): Option[DataFrame] =
    graft.temporal.AtomicSwap
      .readablePath(spark, s"$stateDir/current_$name")
      .map(Graft.parquet(spark, _))

  /** The `history_<name>` table for a state dir, `None` before the first
    * load. Every load appends, so a history no load has superseded a row
    * of holds only schema-only files and reads as an empty table. */
  def historyTable(spark: SparkSession, stateDir: String, name: String): Option[DataFrame] =
    Graft.parquetIfAny(spark, s"$stateDir/history_$name")

  /** The accumulated `relchanges` CDC log for a state dir (T4), `None`
    * until a non-empty diff has been appended: idempotent reloads append
    * nothing, so the directory may not exist yet. */
  def relChanges(spark: SparkSession, stateDir: String): Option[DataFrame] =
    Graft.parquetIfAny(spark, s"$stateDir/relchanges")

  /** Node-id table for J6 edge validation. */
  def nodeIds(g: GraphTables): DataFrame = Seq(
    g.users -> "HUBSPOT_User", g.contacts -> "HUBSPOT_Contact",
    g.companies -> "HUBSPOT_Company", g.deals -> "HUBSPOT_Deal",
    g.activities -> "HUBSPOT_Activity", g.campaigns -> "HUBSPOT_EmailCampaign",
    g.webPages -> "HUBSPOT_WebPage", g.opens -> "HUBSPOT_EmailOpenEvent",
    g.clicks -> "HUBSPOT_EmailClickEvent", g.forms -> "HUBSPOT_FormSubmission")
    .map { case (df, t) => df.select(lit(t).as("node_type"), col("hubspot_id")) }
    .reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val Array(rawDir, stateDir) = args
    val spark = Graft.session()
    try run(spark, rawDir, stateDir) finally spark.stop()
  }

  /** CLI body against a caller-owned session (e2e-testable). */
  def run(spark: SparkSession, rawDir: String, stateDir: String): Unit = {
    import graft.model.CrmSchema

    def read(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).json(s"$rawDir/$name.json")

    val g = transformAll(
      read("users", CrmSchema.users),
      read("contacts", CrmSchema.envelope),
      read("companies", CrmSchema.envelope),
      read("deals", CrmSchema.envelope),
      read("engagements", CrmSchema.envelope),
      read("email_events", CrmSchema.emailEvents),
      read("form_submissions", CrmSchema.formSubmissions))

    val validEdges = EdgeBuilder.validate(g.edges, nodeIds(g))
    // F19: one load timestamp per run, captured on the driver, so every
    // table's new rows, every superseded version's valid_to and every
    // relationship change of this load carry the same instant.
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val loadTs = lit(now)

    // SCD load per entity table against stateDir/current_<name> and
    // history_<name>, through the storage step the streaming SCD sink
    // uses too. Its snapshot row count is the table's verification count.
    val tables = Seq(
      "users" -> g.users, "contacts" -> g.contacts, "companies" -> g.companies,
      "deals" -> g.deals, "activities" -> g.activities)
    val counts = tables.map { case (name, nodes) =>
      val n = ScdLoader.loadSnapshot(GT.withTemporal(nodes, loadTs),
        s"$stateDir/current_$name", s"$stateDir/history_$name", now)
      println(s"[pipeline] $name loaded")
      s"$name=$n"
    }
    // Edge load (T4 + T5; temporal_loader.py:84-100, 313-337, 401-462).
    // The reference splits relationships per load: immutable event edges
    // (PERFORMED, VISITED, ... — settings.py:76-86) are MERGE-only facts
    // that accumulate across loads and are never diffed; every other type
    // is trackable — added edges are MERGEd in, removed ones DELETEd, and
    // both directions land as HUBSPOT_RelationshipChange rows. The diff
    // and the immutable carry-over both read the PREVIOUS edge set, so
    // they run before the swap; the new set materializes at `.next` first.
    val edgesPath = s"$stateDir/edges"
    // The CDC batch rides the edge swap as a sidecar: changes are staged
    // at relchanges.stage and moved into the log only when the swap
    // commits. A crash after the diff but before the swap leaves the old
    // edge set current and the stage uncommitted — the rerun re-diffs the
    // SAME prev/incoming pair and restages, so the batch lands exactly
    // once (the old append-then-swap order double-appended on that rerun).
    val relchangesStage = s"$stateDir/relchanges.stage"
    val sidecar = Seq(graft.temporal.AtomicSwap.Sidecar(
      relchangesStage, s"$stateDir/relchanges"))
    // Writer-side recover FIRST — before staging this load's batch — so a
    // prior crashed swap's staged sidecar commits before we overwrite it.
    graft.temporal.AtomicSwap.recover(spark, edgesPath, sidecar)
    // Any stage surviving recover is unmarkered garbage from a load that
    // crashed before its swap — drop it, or (when THIS load's diff turns
    // out empty and stages nothing) it would ride this load's swap.
    locally {
      val p = new org.apache.hadoop.fs.Path(relchangesStage)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) require(fs.delete(p, true), s"delete $p failed")
    }
    val immutable =
      col("rel_type").isin(graft.model.CrmSchema.ImmutableEdgeTypes.toSeq: _*)
    val newEdges =
      if (!fileExists(spark, edgesPath)) validEdges
      else {
        val prev = Graft.parquet(spark, edgesPath)
        // T4: stage added/removed trackable-edge changes for the sidecar
        // commit. diffEdges excludes immutable types itself; a reload of
        // the same snapshot stages nothing (idempotence invariant — an
        // empty stage must not flip relChanges from None to Some(empty)).
        val changes = ScdLoader.edgeChanges(prev, validEdges, loadTs).persist()
        try {
          if (changes.count() > 0)
            changes.write.mode("overwrite").parquet(relchangesStage)
        } finally { changes.unpersist(); () }
        // T5 MERGE semantics for immutable event edges: incoming rows win
        // on their (rel_type, endpoints) key; previous events absent from
        // this extract (lookback windows!) survive. Null-safe keys, as in
        // the diff — a null component must still match itself.
        val key = Seq("rel_type", "src_type", "src_id", "dst_type", "dst_id")
        val keptPrev = prev.filter(immutable).join(validEdges,
          key.map(k => prev(k) <=> validEdges(k)).reduce(_ && _), "left_anti")
        validEdges.unionByName(keptPrev)
      }
    newEdges.write.mode("overwrite").parquet(s"$edgesPath.next")
    graft.temporal.AtomicSwap.swapIn(spark, edgesPath, sidecar)

    // Immutable event NODE tables (T5 facts: opens, clicks, form
    // submissions) land date-partitioned — `partitionBy(event_date)` —
    // so every lookback / ts-range report prunes whole partitions at
    // planning time instead of relying on row-group stats alone
    // (round-9 verdict #7; SCALE.md §3). Events are append-only facts:
    // a load appends only the rows whose hubspot_id is NEW (extract
    // lookback windows re-send recent events; the anti-join keeps the
    // table idempotent under reload, same invariant as the immutable
    // edge MERGE above). The fresh set is pinned and materialized
    // BEFORE the append starts: its plan reads the very directory the
    // append writes to, and launching the write with that read still
    // lazy would race new files into the scan. At fleet scale the same
    // write uses dynamic partition overwrite; the day-grain partition
    // count stays bounded (a few thousand dirs for a decade).
    val eventTables = Map("email_opens" -> g.opens,
      "email_clicks" -> g.clicks, "form_submissions" -> g.forms)
    eventTables.foreach { case (name, nodes) =>
      val path = s"$stateDir/events_$name"
      val dated = nodes.withColumn("event_date", to_date(col("timestamp")))
      val fresh =
        if (!fileExists(spark, path)) dated
        else dated.join(Graft.parquet(spark, path).select("hubspot_id"),
          Seq("hubspot_id"), "left_anti")
      fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (fresh.count() > 0)
          fresh.write.mode("append").partitionBy("event_date").parquet(path)
      } finally { fresh.unpersist(blocking = false); () }
      println(s"[pipeline] events_$name loaded")
    }

    // Verification counts (S17): the node counts came from the SCD step
    println(s"[pipeline] nodes: ${counts.mkString(" ")} " +
      s"edges=${Graft.parquet(spark, edgesPath).count()}")
  }
}
