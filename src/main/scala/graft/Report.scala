package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.query.{ReportQueries => RQ}

/** Reporting CLI mirroring the reference's `report.py` flag surface
  * (SURVEY.md §3.2: one named DataFrame query per ReportQueries method,
  * table/csv/json sinks = S13-S15) plus the temporal demo surface of
  * `query_temporal.py:328-420` as flags over a Pipeline state directory.
  *
  * Usage:
  *   runMain graft.Report <rawDir> (--all-owners | --find-owner NAME |
  *     --owner NAME [--entity contacts|companies|deals|combined|summary]
  *       [--pick N] |
  *     --recent-forms [--days N] | --recent-email [--days N] |
  *     --recent-activity NAME [--days N] | --engagement-history EMAIL |
  *     --ownership [USER_EMAIL] | --schema | --rel-types |
  *     --lifecycle-stages | --industries | --funnel | --campaigns |
  *     --top-companies N | --no-company | --engaged | --combined)
  *     [--format table|csv|json] [--out PATH]
  *   runMain graft.Report <stateDir> (--history ID | --deleted |
  *     --recent-changes HOURS | --compare-versions [ID] | --temporal-stats |
  *     --rel-history TYPE:ID | --ownership-changes [TYPE] | --rel-changes [N] |
  *     --graph-rank [REL_TYPE] [--from TYPE:ID] |
  *     --graph-communities [REL_TYPE] | --graph-neighbors TYPE:ID [--hops N] |
  *     --graph-shortest FROM_TYPE:ID [TO_TYPE:ID] [--hops N] |
  *     --graph-triangles [REL_TYPE] | --graph-suggest [TYPE:ID])
  *     [--table users|contacts|companies|deals|activities]
  *     [--format ...] [--out PATH]
  *
  * `--owner` with a needle matching more than one user does NOT silently
  * run against all of them (the reference prompts interactively,
  * report.py:39-87): it prints the candidate list and exits with code 2
  * so a script can disambiguate and retry — either with a tighter
  * needle, or with `--pick N` to select the Nth candidate from that
  * same list (the non-interactive twin of the reference's prompt loop).
  */
object Report {

  /** Exit code when `--owner` matches more than one user. */
  val ExitAmbiguousOwner = 2

  def main(args: Array[String]): Unit = {
    val spark = Graft.session()
    val code = try run(spark, args) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Temporal bookkeeping columns added by the SCD loader — everything
    * else in a current_* table is a business field eligible for diffing. */
  private val temporalCols =
    Set("hubspot_id", "valid_from", "valid_to", "is_current", "is_deleted",
      "snapshot_hash")

  /** CLI body against a caller-owned session (e2e-testable); returns the
    * process exit code. */
  def run(spark: SparkSession, args: Array[String]): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    val rawDir = args.headOption.getOrElse(sys.error("usage: Report <dir> <flag>"))
    val flags = args.drop(1).toSeq
    def flagValue(name: String): Option[String] =
      flags.sliding(2).collectFirst { case Seq(`name`, v) if !v.startsWith("--") => v }
    val format = flagValue("--format").getOrElse("table")
    val out = flagValue("--out")
    import graft.model.CrmSchema

    def read(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).json(s"$rawDir/$name.json")
    // The CRM graph is only materialized for report flags; temporal flags
    // read SCD parquet state directly and never touch raw JSON.
    lazy val g = Pipeline.transformAll(
      read("users", CrmSchema.users), read("contacts", CrmSchema.envelope),
      read("companies", CrmSchema.envelope), read("deals", CrmSchema.envelope),
      read("engagements", CrmSchema.envelope),
      read("email_events", CrmSchema.emailEvents),
      read("form_submissions", CrmSchema.formSubmissions))

    import graft.query.{GraphQueries => GQ, OwnershipQueries => OQ, TemporalQueries => TQ}
    def edgesState: DataFrame =
      if (Pipeline.fileExists(spark, s"$rawDir/edges"))
        Graft.parquet(spark, s"$rawDir/edges")
      else sys.error(s"no edges state under $rawDir — run the pipeline first")
    // F19: the reporting "now" is captured once per invocation, not per row.
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val asOf = lit(now)
    def days = flagValue("--days").map(_.toInt).getOrElse(30)

    // Temporal flags: <dir> is a Pipeline state directory, read by path.
    def table = flagValue("--table").getOrElse("contacts")
    def cur(t: String) = Pipeline.currentTable(spark, rawDir, t)
      .getOrElse(sys.error(s"no current_$t state under $rawDir"))
    def hist(t: String) = Pipeline.historyTable(spark, rawDir, t)
      .getOrElse(cur(t).limit(0)) // no row has ever been superseded
    def businessFields(t: String): Seq[String] =
      cur(t).columns.toSeq.filterNot(temporalCols)

    val result: DataFrame = flags.headOption match {
      case Some("--all-owners") => RQ.allOwnersSummary(g)
      case Some("--find-owner") => RQ.findOwner(g, flagValue("--find-owner").get)
      case Some("--owner") =>
        val name = flagValue("--owner").get
        val matches = RQ.findOwner(g, name)
        // The reference resolves an ambiguous needle by PROMPTING for a
        // 1-based pick from the candidate list (report.py:39-87). The
        // scriptable equivalent is `--pick N`: N indexes the same
        // candidate list (ordered by hubspot_id, as --find-owner prints
        // it) and the run proceeds against exactly that user. Without
        // --pick, ambiguity still lists candidates and exits 2.
        val needle = if (matches.limit(2).count() > 1) {
          flagValue("--pick").map(_.toInt) match {
            case Some(n) =>
              val ids = matches.select("hubspot_id").collect() // tiny owner dim
              if (n < 1 || n > ids.length)
                sys.error(s"--pick $n out of range 1..${ids.length}")
              "id:" + ids(n - 1).getString(0)
            case None =>
              println(s"[report] owner needle '$name' is ambiguous; candidates:")
              sink(matches, format, out)
              return ExitAmbiguousOwner
          }
        } else name
        flagValue("--entity").getOrElse("summary") match {
          case "contacts" => RQ.contactsByOwner(g, needle)
          case "companies" => RQ.companiesByOwner(g, needle)
          case "deals" => RQ.dealsByOwner(g, needle)
          case "combined" => RQ.combinedByOwner(g, needle)
          case _ => RQ.ownerSummary(g, needle)
        }
      case Some("--recent-forms") => RQ.recentFormSubmissions(g, asOf, days)
      case Some("--recent-email") => RQ.recentEmailActivity(g, asOf, days)
      case Some("--recent-activity") =>
        RQ.contactsWithRecentActivity(g, flagValue("--recent-activity").get, asOf, days)
      case Some("--engagement-history") =>
        RQ.contactEngagementHistory(g, flagValue("--engagement-history").get)
      case Some("--ownership") =>
        flagValue("--ownership") match {
          case Some(email) => OQ.userOwnership(g, email)
          case None => OQ.allOwnerships(g)
        }
      case Some("--schema") => graft.query.Introspect.tableSchemas(g)
      case Some("--rel-types") => graft.query.Introspect.relationshipTypes(g)
      case Some("--lifecycle-stages") => RQ.contactsByLifecycle(g)
      case Some("--industries") => RQ.companiesByIndustry(g)
      case Some("--funnel") => RQ.conversionFunnel(g)
      case Some("--campaigns") => RQ.campaignPerformance(g)
      case Some("--top-companies") =>
        RQ.topCompaniesByDealValue(g, flagValue("--top-companies").map(_.toInt).getOrElse(10))
      case Some("--no-company") => RQ.contactsWithoutCompany(g)
      case Some("--engaged") => RQ.engagedContacts(g)
      case Some("--combined") => RQ.combinedOwnerView(g)
      // ---- temporal surface (query_temporal.py:328-420) ----
      case Some("--history") => // full version chain for one entity
        TQ.entityHistory(cur(table), hist(table), flagValue("--history").get)
      case Some("--deleted") => // soft-deleted entities
        TQ.deletedEntities(cur(table))
      case Some("--recent-changes") => // entities loaded in the last N hours
        val hours = flagValue("--recent-changes").map(_.toInt).getOrElse(24)
        val cutoff = lit(new java.sql.Timestamp(now.getTime - hours * 3600L * 1000L))
        TQ.recentChanges(cur(table), cutoff, limit = 50)
      case Some("--compare-versions") => // field diff, current vs previous
        val diff = TQ.compareVersions(cur(table), hist(table), businessFields(table))
        flagValue("--compare-versions") match {
          case Some(id) => diff.filter(col("hubspot_id") === id)
          case None => diff
        }
      case Some("--rel-history") => // relationship CDC rows touching one entity
        val Array(entityType, entityId) = flagValue("--rel-history").get.split(":", 2)
        val rc = Pipeline.relChanges(spark, rawDir)
          .getOrElse(sys.error(s"no relchanges log under $rawDir — " +
            "run the pipeline at least twice so edges have been diffed"))
        TQ.entityRelationshipHistory(rc, entityType, entityId)
      case Some("--ownership-changes") => // OWNED_BY transfers from the CDC log
        val rc = Pipeline.relChanges(spark, rawDir)
          .getOrElse(sys.error(s"no relchanges log under $rawDir"))
        TQ.ownershipChanges(rc, entityType = flagValue("--ownership-changes"))
      case Some("--rel-changes") => // newest relationship changes, limited
        val rc = Pipeline.relChanges(spark, rawDir)
          .getOrElse(sys.error(s"no relchanges log under $rawDir"))
        TQ.recentRelationshipChanges(rc,
          flagValue("--rel-changes").map(_.toInt).getOrElse(20))
      case Some("--temporal-stats") => // one-job stats across all SCD tables
        val names = Seq("users", "contacts", "companies", "deals", "activities")
          .filter(t => Pipeline.fileExists(spark, s"$rawDir/current_$t"))
        TQ.temporalStatistics(names.map(t => t -> (cur(t), hist(t))).toMap)
      // Graph flags: the questions the reference handed to Neo4j once the
      // loader had run, over the pipeline's materialized edge set.
      case Some("--graph-rank") => // PageRank influence, top 50;
        // --from TYPE:ID personalizes the teleport to that entity
        val from = flagValue("--from").map { v =>
          val Array(t, id) = v.split(":", 2); (t, id)
        }
        GQ.influenceRanking(edgesState, flagValue("--graph-rank"), from = from)
      case Some("--graph-communities") => // connected components + sizes
        GQ.communities(edgesState, flagValue("--graph-communities"))
      case Some("--graph-neighbors") => // k-hop neighborhood of TYPE:ID
        val Array(entityType, entityId) =
          flagValue("--graph-neighbors").get.split(":", 2)
        GQ.neighborhood(edgesState, entityType, entityId,
          hops = flagValue("--hops").map(_.toInt).getOrElse(2))
      case Some("--graph-shortest") => // weighted distance from FROM [to TO]
        val sel = flags.dropWhile(_ != "--graph-shortest").drop(1)
          .takeWhile(!_.startsWith("--")).toList
        sel match {
          case from :: rest if rest.size <= 1 =>
            val Array(ft, fid) = from.split(":", 2)
            val to = rest.headOption.map { v =>
              val Array(t, id) = v.split(":", 2); (t, id)
            }
            GQ.shortestPath(edgesState, ft, fid, to,
              maxHops = flagValue("--hops").map(_.toInt).getOrElse(6))
          case _ => sys.error("--graph-shortest needs FROM_TYPE:ID [TO_TYPE:ID]")
        }
      case Some("--graph-triangles") => // per-entity triangle cohesion
        GQ.triangleCohesion(edgesState, flagValue("--graph-triangles"))
      case Some("--graph-suggest") => // Adamic-Adar link suggestions;
        // optional TYPE:ID narrows to pairs involving that entity
        val forEntity = flagValue("--graph-suggest").map { v =>
          val Array(t, id) = v.split(":", 2); (t, id)
        }
        GQ.linkSuggestions(edgesState, forEntity)
      case other => sys.error(s"unknown or missing report flag: $other")
    }

    sink(result, format, out)
    0
  }

  /** Union-of-keys row alignment (reporting/neo4j_reporter.py:213-244):
    * the reference's CSV writer infers its header as the union of keys
    * across heterogeneous result dicts, null-filling the gaps. DataFrames
    * carry fixed schemas, so the equivalent is a by-name union with
    * missing columns allowed — the combined frame's schema IS the
    * union-of-keys header, and any sink (S13 CSV included) can write it. */
  def unionOfKeys(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "unionOfKeys needs at least one frame")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** S13/S14/S15 sinks. The coalesce(1) is a REPORT-output choice (one
    * readable file); bulk data writes elsewhere keep their partitioning. */
  def sink(result: DataFrame, format: String, out: Option[String]): Unit = {
    import org.apache.spark.sql.functions.{col, to_json}
    (format, out) match {
      case ("table", _) => result.show(100, truncate = false)
      case ("csv", Some(p)) =>
        // CSV cannot hold complex types — render map/array/struct columns
        // as JSON text (e.g. relchanges' relationship_properties)
        val flat = result.schema.fields.foldLeft(result) { (df, f) =>
          f.dataType match {
            case _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.StructType =>
              df.withColumn(f.name, to_json(col(f.name)))
            case _ => df
          }
        }
        flat.coalesce(1).write.mode("overwrite").option("header", "true").csv(p)
        println(s"[report] csv written to $p")
      case ("json", Some(p)) =>
        result.coalesce(1).write.mode("overwrite").json(p)
        println(s"[report] json written to $p")
      case (f, None) => sys.error(s"--format $f requires --out PATH")
      case (f, _) => sys.error(s"unknown format $f")
    }
  }
}
