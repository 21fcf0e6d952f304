package graft

import org.scalatest.funsuite.AnyFunSuite

/** Full batch pipeline end-to-end (the reference's main.py path): raw CRM
  * JSON -> transforms -> edge build/validation -> SCD state load ->
  * verification counts. The reference's #1 invariant is idempotence
  * (docs/TESTING_QUICK_REFERENCE.md:17-35): a second run over the same
  * snapshot must leave current state unchanged and write NO history. */
class PipelineE2eSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("two runs over the same raw snapshot: stable current, empty history") {
    val raw = java.nio.file.Files.createTempDirectory("graft-raw").toString
    val state = java.nio.file.Files.createTempDirectory("graft-state").toString
    Seq(
      "users" -> CrmFixture.usersRaw(spark),
      "contacts" -> CrmFixture.contactsRaw(spark),
      "companies" -> CrmFixture.companiesRaw(spark),
      "deals" -> CrmFixture.dealsRaw(spark),
      "engagements" -> CrmFixture.engagementsRaw(spark),
      "email_events" -> CrmFixture.emailEventsRaw(spark),
      "form_submissions" -> CrmFixture.formsRaw(spark)
    ).foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw/$n.json") }

    Pipeline.run(spark, raw, state)
    val cur1 = spark.read.parquet(s"$state/current_contacts")
    assert(cur1.count() == 3)
    assert(spark.read.parquet(s"$state/edges").count() > 0)

    Pipeline.run(spark, raw, state) // identical snapshot again
    val cur2 = spark.read.parquet(s"$state/current_contacts")
    assert(cur2.count() == 3)
    val histRows =
      Pipeline.historyTable(spark, state, "contacts").map(_.count()).getOrElse(0L)
    assert(histRows == 0L, "idempotent reload must not write history")
    // soft-delete flags untouched on reload
    import org.apache.spark.sql.functions.col
    assert(cur2.filter(col("is_deleted")).count() == 0)
  }

  test("relationship CDC: removed association yields one change row, reload zero") {
    import org.apache.spark.sql.functions.col
    val raw = java.nio.file.Files.createTempDirectory("graft-raw4a").toString
    val raw2 = java.nio.file.Files.createTempDirectory("graft-raw4b").toString
    val state = java.nio.file.Files.createTempDirectory("graft-state4").toString
    def fixtures(deals: org.apache.spark.sql.DataFrame) = Seq(
      "users" -> CrmFixture.usersRaw(spark),
      "contacts" -> CrmFixture.contactsRaw(spark),
      "companies" -> CrmFixture.companiesRaw(spark),
      "deals" -> deals,
      "engagements" -> CrmFixture.engagementsRaw(spark),
      "email_events" -> CrmFixture.emailEventsRaw(spark),
      "form_submissions" -> CrmFixture.formsRaw(spark))
    fixtures(CrmFixture.dealsRaw(spark))
      .foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw/$n.json") }
    fixtures(CrmFixture.dealsRawV2(spark)) // d1 lost its co1 association
      .foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw2/$n.json") }

    Pipeline.run(spark, raw, state)
    assert(Pipeline.relChanges(spark, state).isEmpty,
      "first load has no previous edge set to diff")
    val edges1 = spark.read.parquet(s"$state/edges").count()

    Pipeline.run(spark, raw2, state)
    val ch = Pipeline.relChanges(spark, state).getOrElse(fail("no relchanges"))
    val rows = ch.collect()
    assert(rows.length == 1, s"expected exactly one change row, got ${rows.toSeq}")
    val r = rows.head
    assert(r.getAs[String]("change_type") == "removed")
    assert(r.getAs[String]("relationship_type") == "BELONGS_TO")
    assert(r.getAs[String]("from_entity_id") == "d1")
    assert(r.getAs[String]("to_entity_id") == "co1")
    val edges2 = spark.read.parquet(s"$state/edges")
    assert(edges2.filter(col("rel_type") === "BELONGS_TO" &&
      col("src_id") === "d1").count() == 0, "removed edge must leave current set")
    assert(edges2.count() == edges1 - 1,
      "one edge removed, immutable events MERGEd not duplicated")

    Pipeline.run(spark, raw2, state) // identical snapshot: CDC idempotence
    assert(Pipeline.relChanges(spark, state).get.count() == 1,
      "idempotent reload must append zero relationship changes")
    assert(spark.read.parquet(s"$state/edges").count() == edges1 - 1)
  }

  test("two loads in one session: one load timestamp, no catalog table, no stage dir") {
    import org.apache.spark.sql.functions.{col, max}
    val raw = java.nio.file.Files.createTempDirectory("graft-raw3a").toString
    val raw2 = java.nio.file.Files.createTempDirectory("graft-raw3b").toString
    val state = java.nio.file.Files.createTempDirectory("graft-state3").toString
    def fixtures(contacts: org.apache.spark.sql.DataFrame,
        deals: org.apache.spark.sql.DataFrame) = Seq(
      "users" -> CrmFixture.usersRaw(spark),
      "contacts" -> contacts,
      "companies" -> CrmFixture.companiesRaw(spark),
      "deals" -> deals,
      "engagements" -> CrmFixture.engagementsRaw(spark),
      "email_events" -> CrmFixture.emailEventsRaw(spark),
      "form_submissions" -> CrmFixture.formsRaw(spark))
    fixtures(CrmFixture.contactsRaw(spark), CrmFixture.dealsRaw(spark))
      .foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw/$n.json") }
    // c1 retitled, c3 missing (soft delete), d1 lost its company edge
    fixtures(CrmFixture.contactsRawV2(spark), CrmFixture.dealsRawV2(spark))
      .foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw2/$n.json") }
    Pipeline.run(spark, raw, state)
    Pipeline.run(spark, raw2, state)

    // The second load's instant: its relationship changes carry it, and
    // so does every version it superseded and every row it made current.
    val changedAt = Pipeline.relChanges(spark, state).get
      .select("changed_at").distinct().collect().map(_.getTimestamp(0)).toSeq
    assert(changedAt.size == 1, s"one changed_at per load, got $changedAt")
    val loadTs = changedAt.head
    val cur = Pipeline.currentTable(spark, state, "contacts").get
    val superseded = Pipeline.historyTable(spark, state, "contacts").get
      .groupBy("hubspot_id").agg(max("valid_to").as("superseded_at"))
    val changed = cur.join(superseded, "hubspot_id")
      .select(col("hubspot_id"), col("is_deleted"), col("valid_from"),
        col("valid_to"), col("superseded_at")).collect()
    assert(changed.map(_.getString(0)).sorted.toSeq == Seq("c1", "c3"))
    changed.foreach { r =>
      assert(r.getTimestamp(4) == loadTs, s"history valid_to of ${r.getString(0)}")
      // a live successor starts where its predecessor ended; a soft
      // delete ends its current row at the same instant
      val successor = if (r.getBoolean(1)) r.getTimestamp(3) else r.getTimestamp(2)
      assert(successor == loadTs, s"current row of ${r.getString(0)}")
    }
    val validFrom = Seq("users", "contacts", "companies", "deals", "activities")
      .map(t => Pipeline.currentTable(spark, state, t).get.select("valid_from"))
      .reduce(_.unionByName(_)).distinct().collect().map(_.getTimestamp(0))
    assert(validFrom.length == 2 && validFrom.contains(loadTs),
      s"each load stamps all its tables with one instant, got ${validFrom.toSeq}")

    // The state lives in its directory alone: no session-catalog entry,
    // no staging directory.
    val graftTables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_"))
    assert(graftTables.isEmpty, s"catalog tables registered: ${graftTables.toSeq}")
    val staged = new java.io.File(state).listFiles().map(_.getName)
      .filter(_.startsWith("stage_"))
    assert(staged.isEmpty, s"staging directories left: ${staged.toSeq}")
  }

  test("corrupt current state fails loudly instead of resetting to first-load") {
    val raw = java.nio.file.Files.createTempDirectory("graft-raw2").toString
    val state = java.nio.file.Files.createTempDirectory("graft-state2").toString
    Seq(
      "users" -> CrmFixture.usersRaw(spark),
      "contacts" -> CrmFixture.contactsRaw(spark),
      "companies" -> CrmFixture.companiesRaw(spark),
      "deals" -> CrmFixture.dealsRaw(spark),
      "engagements" -> CrmFixture.engagementsRaw(spark),
      "email_events" -> CrmFixture.emailEventsRaw(spark),
      "form_submissions" -> CrmFixture.formsRaw(spark)
    ).foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw/$n.json") }
    Pipeline.run(spark, raw, state)

    // Corrupt every current_* parquet footer. A rerun must throw (not
    // silently treat the table as a first load) and must leave the state
    // directory exactly as it found it — no history rows appended.
    val stateDir = new java.io.File(state)
    val curDirs = stateDir.listFiles().filter(_.getName.startsWith("current_"))
    assert(curDirs.nonEmpty)
    for (d <- curDirs; f <- d.listFiles() if f.getName.endsWith(".parquet"))
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](16)(0x42))
    intercept[Exception] { Pipeline.run(spark, raw, state) }
    val histRows =
      Pipeline.historyTable(spark, state, "contacts").map(_.count()).getOrElse(0L)
    assert(histRows == 0L, "failed run must not append history")
    // the corrupted state is still there for an operator to inspect/restore
    assert(curDirs.forall(_.exists()))
  }
}
