package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.CrmSchema
import graft.plans.SessionRegistry
import graft.query.{GraphQueries => GQ, OwnershipQueries => OQ, ReportQueries => RQ,
  TemporalQueries => TQ}

/** The report mix the `Report` CLI serves and `crm_cycle` measures, over
  * a CRM state `Pipeline.run` loaded from the fixture: every ask answers
  * on the driver, collecting each file the first time any ask reads it;
  * a pass with other keys runs no job; the answers are the distributed
  * plan's rows, a pass over the graph asks with new keys reads each
  * twin's cut from the registry, and a later pass over the mix compiles
  * no generated class. */
class ReportAskSpec extends AnyFunSuite {
  import ReportAskSpec._
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

  /** The eleven asks of the `crm_cycle` mix, each with its job budget
    * on the first pass: one job for each file its plan reads that no
    * earlier ask has read (the session registry serves the rest). */
  private def asks(): Seq[(String, Keys => DataFrame, Int)] = {
    val (raw, state) = dirs
    val g = graph(raw)
    // state tables read with their footer schemas: no schema job
    val cur = Pipeline.currentTable(spark, state, "contacts").get
    val hist = Pipeline.historyTable(spark, state, "contacts").get
    val rel = Pipeline.relChanges(spark, state).get
    val edges = Graft.parquet(spark, s"$state/edges")
    val asOf = lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    val fields = cur.columns.toSeq.filterNot(Set("hubspot_id", "valid_from", "valid_to",
      "is_current", "is_deleted", "snapshot_hash"))
    Seq(
      // contacts, users
      ("contact_owner", k => OQ.contactOwner(g, k.email), 2),
      ("contacts_by_owner", k => RQ.contactsByOwner(g, k.owner), 0),
      // deals, companies
      ("top_companies", k => RQ.topCompaniesByDealValue(g, k.top), 2),
      // the events file, whose opens and clicks are two filters of it
      ("recent_email", k => RQ.recentEmailActivity(g, asOf, k.days), 1),
      // current and history tables
      ("entity_history", k => TQ.entityHistory(cur, hist, k.entity), 2),
      ("compare_versions", k => TQ.compareVersions(cur, hist, fields)
        .filter(col("hubspot_id") === k.entity), 0),
      ("relationship_changes", k => TQ.recentRelationshipChanges(rel, k.changes), 1),
      ("relationship_history",
        k => TQ.entityRelationshipHistory(rel, k.relEntity._1, k.relEntity._2), 0),
      // the twins' cut frames read the edge table: once, for both
      // directions of the symmetric frame and for the pair weights
      ("neighborhood", k => GQ.neighborhood(edges, "HUBSPOT_Contact", k.node, k.hops), 1),
      ("shortest_path", k => GQ.shortestPath(edges, "HUBSPOT_Contact", k.node), 0),
      ("rank", k => GQ.influenceRanking(edges, Some("OWNED_BY"), k.k), 0))
  }

  test("the crm_cycle asks: one job per narrow input, distributed rows, no recompiles") {
    val mix = asks()
    val answers = for ((name, ask, budget) <- mix) yield {
      var rows: Seq[String] = Nil
      val jobs = TestSpark.jobsDuring { rows = ask(firstKeys).collect().map(_.toString).toSeq }
      info(s"$name: $jobs jobs, ${rows.size} rows")
      assert(rows.nonEmpty, s"$name returned nothing")
      assert(jobs <= budget, s"$name launched $jobs jobs, budget $budget")
      rows
    }
    // a second pass asks about other keys over the same files: no job
    for ((name, ask, _) <- mix) {
      val jobs = TestSpark.jobsDuring(ask(otherKeys).collect())
      assert(jobs == 0, s"$name with other keys launched $jobs jobs")
    }
    // the graph asks once more, with keys no pass used: each twin starts
    // from its cut's registry entry, one hit and no build per ask
    val graph = mix.filter(m => Set("neighborhood", "shortest_path", "rank")(m._1))
    val before = SessionRegistry.shared.stats(spark.sparkContext)
    val third = for ((name, ask, _) <- graph) yield {
      var rows: Seq[String] = Nil
      val jobs = TestSpark.jobsDuring { rows = ask(thirdKeys).collect().map(_.toString).toSeq }
      assert(jobs == 0, s"$name with third keys launched $jobs jobs")
      assert(rows.nonEmpty, s"$name with third keys returned nothing")
      rows
    }
    val after = SessionRegistry.shared.stats(spark.sparkContext)
    assert(after.builds == before.builds && after.hits == before.hits + 3, s"$before -> $after")
    val compiled = TestSpark.codegenCompilesDuring(mix.foreach(_._2(firstKeys).collect()))
    assert(compiled == 0, s"a third pass over the mix compiled $compiled classes")
    // with no broadcast budget every ask keeps its distributed plan
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val budget = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      for (((name, ask, _), rows) <- mix.zip(answers))
        assert(rows.sorted == ask(firstKeys).collect().map(_.toString).toSeq.sorted, name)
      for (((name, ask, _), rows) <- graph.zip(third))
        assert(rows.sorted == ask(thirdKeys).collect().map(_.toString).toSeq.sorted, name)
    } finally spark.conf.set(key, budget)
  }

  test("top companies plans the BELONGS_TO part alone: no union, deals and companies only") {
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val budget = spark.conf.get(key)
    spark.conf.set(key, "-1") // the ask keeps its distributed plan
    try {
      val plan = RQ.topCompaniesByDealValue(graph(dirs._1), 10).queryExecution.optimizedPlan
      assert(plan.collect { case u: Union => u }.isEmpty, plan.toString)
      val files = plan.collectLeaves().map {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
          r.location.rootPaths.map(_.getName).mkString(",")
        case other => other.nodeName
      }.toSet
      assert(files == Set("deals.json", "companies.json"), plan.toString)
    } finally spark.conf.set(key, budget)
  }

  test("answering contact_owner on the driver never starts Spark's ICU case-mapping helper") {
    // a JVM of its own, so no earlier test has loaded the class; the
    // same JVM's distributed `lower` afterwards shows the log sees it
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xmx512m", "-Xlog:class+init=info") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.IcuColdCheck", dirs._1)
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), _ => ()))
    val log = out.toString
    assert(code == 0, log)
    val helper = "Initializing 'org/apache/spark/sql/catalyst/util/CollationAwareUTF8String'"
    val answered = log.indexOf("answered: [Alice,A,alice@company1.com,john.doe@example.com")
    assert(answered >= 0, log.linesIterator.filter(_.contains("answered")).mkString("\n"))
    assert(log.indexOf("Initializing 'org/apache/spark/unsafe/types/UTF8String'") >= 0)
    val init = log.indexOf(helper)
    assert(init > answered, s"the helper was initialized before the answer (at $init)")
    assert(init < log.indexOf("distributed lower done"))
  }
}

object ReportAskSpec {
  /** The CRM graph over the raw JSON files under `raw`, as the `Report`
    * CLI builds it. */
  def graph(raw: String): graft.query.GraphTables = {
    val spark = SparkSession.active
    def json(n: String, s: org.apache.spark.sql.types.StructType) =
      spark.read.schema(s).json(s"$raw/$n.json")
    Pipeline.transformAll(json("users", CrmSchema.users),
      json("contacts", CrmSchema.envelope), json("companies", CrmSchema.envelope),
      json("deals", CrmSchema.envelope), json("engagements", CrmSchema.envelope),
      json("email_events", CrmSchema.emailEvents),
      json("form_submissions", CrmSchema.formSubmissions))
  }

  /** The keys one pass of the mix asks about. */
  private final case class Keys(email: String, owner: String, top: Int, days: Int,
      entity: String, changes: Int, relEntity: (String, String), node: String, hops: Int,
      k: Int)

  private val firstKeys = Keys("alice@company1.com", "id:user_1", 10, 7, "c1", 20,
    ("HUBSPOT_Deal", "d1"), "c1", 2, 10)
  private val otherKeys = Keys("bob@company2.com", "id:user_2", 5, 30, "c2", 5,
    ("HUBSPOT_Contact", "c1"), "c2", 1, 5)
  private val thirdKeys = otherKeys.copy(node = "c3", hops = 3, k = 3)
}

/** Run by [[ReportAskSpec]] in a JVM of its own, logging class
  * initialization: answers `contact_owner` over the raw files under
  * `args(0)` on the driver, then evaluates a `lower` in a Spark job. */
object IcuColdCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("icu-cold")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = OQ.contactOwner(ReportAskSpec.graph(args(0)), "alice@company1.com").collect()
    println(s"answered: ${rows.mkString(";")}")
    System.out.flush()
    spark.range(1).select(lower(concat(lit("A"), col("id").cast("string")))).collect()
    println("distributed lower done")
    System.out.flush()
    spark.stop()
  }
}
