package graft

import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Graft.parquet` reads a parquet path with the schema Spark's own
  * inference gives it, taken from one data file's footer on the driver,
  * so the read runs no job. */
class FooterSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every state table of a loaded CRM state, the partitioned events included") {
    val raw = java.nio.file.Files.createTempDirectory("graft-footer-raw").toString
    val state = java.nio.file.Files.createTempDirectory("graft-footer-state").toString
    for (deals <- Seq(CrmFixture.dealsRaw(spark), CrmFixture.dealsRawV2(spark))) {
      Seq("users" -> CrmFixture.usersRaw(spark), "contacts" -> CrmFixture.contactsRaw(spark),
        "companies" -> CrmFixture.companiesRaw(spark), "deals" -> deals,
        "engagements" -> CrmFixture.engagementsRaw(spark),
        "email_events" -> CrmFixture.emailEventsRaw(spark),
        "form_submissions" -> CrmFixture.formsRaw(spark))
        .foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw/$n.json") }
      Pipeline.run(spark, raw, state)
    }
    val tables = new java.io.File(state).listFiles.filter(_.isDirectory).map(_.getName).sorted
    Seq("edges", "relchanges", "events_email_opens", "events_email_clicks",
      "events_form_submissions").foreach(t => assert(tables.contains(t), t))
    Seq("users", "contacts", "companies", "deals", "activities").foreach { t =>
      assert(tables.contains(s"current_$t") && tables.contains(s"history_$t"), t)
    }
    tables.foreach(t => FooterSchemaSpec.assertFooterSchema(spark, s"$state/$t"))
    assert(Graft.parquet(spark, s"$state/events_email_opens").columns.contains("event_date"))
  }
}

object FooterSchemaSpec extends Assertions {
  /** `Graft.parquet(path)` runs no job and has `spark.read.parquet`'s
    * schema (the catalog's tables are checked in [[CatalogSpec]]). */
  def assertFooterSchema(spark: SparkSession, path: String): Unit = {
    var df: DataFrame = null
    val jobs = TestSpark.jobsDuring { df = Graft.parquet(spark, path) }
    assert(jobs == 0, s"$path: $jobs jobs")
    assert(df.schema == spark.read.parquet(path).schema, path)
  }
}
