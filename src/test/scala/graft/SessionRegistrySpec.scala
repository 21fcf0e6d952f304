package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.operators.LocalGate
import graft.plans.{LocalEval, SessionRegistry}
import graft.query.{ReportQueries => RQ, TemporalQueries => TQ}

/** The session registry behind `LocalEval`'s file inputs and the
  * catalog's pins: entries follow their files, bounded bytes, counters,
  * and the context's lifetime. */
class SessionRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext
  private def stats = SessionRegistry.shared.stats(sc)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `df` answered by `LocalEval`, which must go local. */
  private def local(df: DataFrame, threshold: Long = LocalGate.DefaultRows): Seq[String] = {
    val out = LocalEval(df, threshold)
    assert(out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    rowsOf(out)
  }

  test("a parquet directory rewritten in place is read anew") {
    import spark.implicits._
    val dir = s"${tmp("graft-registry-rewrite")}/t"
    (1 to 20).map(i => (i % 3, i.toLong)).toDF("k", "v").write.parquet(dir)
    def ask() = Graft.parquet(spark, dir).groupBy("k").agg(sum("v").as("s"))
    val first = local(ask())
    assert(TestSpark.jobsDuring(local(ask())) == 0)
    (1 to 20).map(i => (i % 4, 10L * i)).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val second = local(ask())
    assert(second != first)
    assert(second == rowsOf(spark.read.parquet(dir).groupBy("k").agg(sum("v").as("s"))))
  }

  test("a second Pipeline.run into one state directory gives the new rows") {
    val raw = tmp("graft-registry-raw")
    val state = tmp("graft-registry-state")
    def load(contacts: DataFrame): Unit = {
      Seq("users" -> CrmFixture.usersRaw(spark), "contacts" -> contacts,
        "companies" -> CrmFixture.companiesRaw(spark), "deals" -> CrmFixture.dealsRaw(spark),
        "engagements" -> CrmFixture.engagementsRaw(spark),
        "email_events" -> CrmFixture.emailEventsRaw(spark),
        "form_submissions" -> CrmFixture.formsRaw(spark))
        .foreach { case (n, df) => df.write.mode("overwrite").json(s"$raw/$n.json") }
      Pipeline.run(spark, raw, state)
    }
    def deleted() = rowsOf(TQ.deletedEntities(Pipeline.currentTable(spark, state, "contacts").get)
      .select("hubspot_id"))
    def contacts() = {
      import graft.model.CrmSchema._
      val Seq(u, c, co, d, e, ev, f) = Seq("users" -> users, "contacts" -> envelope,
        "companies" -> envelope, "deals" -> envelope, "engagements" -> envelope,
        "email_events" -> emailEvents, "form_submissions" -> formSubmissions)
        .map { case (n, s) => spark.read.schema(s).json(s"$raw/$n.json") }
      rowsOf(RQ.contactsByOwner(Pipeline.transformAll(u, c, co, d, e, ev, f), "id:user_1"))
    }
    load(CrmFixture.contactsRaw(spark))
    assert(deleted().isEmpty)
    val before = contacts()
    load(CrmFixture.contactsRawV2(spark)) // c3 deleted
    assert(deleted() == Seq("[c3]"))
    assert(contacts() != before, "the rewritten contacts file")
  }

  test("rewriting the edges files in place drops the cut entry") {
    import spark.implicits._
    import graft.query.GraphQueries
    val dir = s"${tmp("graft-registry-cut")}/edges"
    def write(pairs: Seq[(String, String)]): Unit =
      pairs.map { case (s, d) => ("HUBSPOT_Contact", s, "HUBSPOT_Company", d, "WORKS_AT") }
        .toDF("src_type", "src_id", "dst_type", "dst_id", "rel_type")
        .write.mode("overwrite").parquet(dir)
    def ask() = GraphQueries.neighborhood(Graft.parquet(spark, dir), "HUBSPOT_Contact", "c1", 2)
    write(Seq("c1" -> "x", "c2" -> "x"))
    val first = rowsOf(ask())
    val s0 = stats
    assert(TestSpark.jobsDuring(assert(rowsOf(ask()) == first)) == 0)
    assert(stats.hits == s0.hits + 1 && stats.builds == s0.builds)
    write(Seq("c1" -> "y", "c3" -> "y", "c4" -> "z"))
    val second = rowsOf(ask())
    assert(second != first)
    assert(second == Seq("[HUBSPOT_Company,y,1]", "[HUBSPOT_Contact,c1,0]",
      "[HUBSPOT_Contact,c3,2]"))
  }

  test("inputs over the byte budget or the row gate are not stored") {
    import spark.implicits._
    val dir = s"${tmp("graft-registry-gates")}/t"
    (1 to 50).map(i => (i % 5, i.toLong)).toDF("k", "v").write.parquet(dir)
    def ask() = Graft.parquet(spark, dir).groupBy("k").agg(sum("v"))
    val builds = stats.builds
    // a relation past the row gate: its capped collect runs, is dropped
    assert(TestSpark.jobsDuring(assert(LocalEval(ask(), threshold = 10) ne null)) == 1)
    assert(stats.builds == builds)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "100")
    try assert(TestSpark.jobsDuring(LocalEval(ask())) == 0)
    finally spark.conf.set(key, before)
    assert(stats.builds == builds)
    // a filter above the file can bring it under the gate: the file is
    // then collected as a filtered narrow input, which is not stored
    assert(local(Graft.parquet(spark, dir).filter(col("v") <= 5), threshold = 10).size == 5)
    assert(stats.builds == builds)
  }

  test("the counters move: a build, then hits, bytes held") {
    import spark.implicits._
    val dir = s"${tmp("graft-registry-stats")}/t"
    (1 to 30).map(i => (i % 4, s"v$i")).toDF("k", "s").write.parquet(dir)
    def ask(k: Int) = Graft.parquet(spark, dir).filter(col("k") === k)
    val s0 = stats
    local(ask(1))
    val s1 = stats
    assert(s1.builds == s0.builds + 1 && s1.hits == s0.hits)
    assert(s1.bytes > s0.bytes && s1.buildSeconds > s0.buildSeconds)
    local(ask(2))
    local(ask(3))
    val s2 = stats
    assert(s2.builds == s1.builds && s2.hits == s1.hits + 2 && s2.bytes == s1.bytes)
  }

  test("the byte bound evicts the least recently used rows") {
    val r = new SessionRegistry(limitBytes = 100)
    val released = scala.collection.mutable.Buffer.empty[String]
    def put(k: String, bytes: Long) = r.put(sc, k, 0, k, bytes, 1000L, () => released += k)
    put("a", 40)
    put("b", 40)
    assert(r.get[String](sc, "a", 0).contains("a")) // b is now the least recent
    put("c", 40)
    assert(released == Seq("b"))
    assert(r.get[String](sc, "b", 0).isEmpty)
    assert(r.stats(sc).bytes == 80 && r.stats(sc).entries == 2)
    put("huge", 101) // over the bound on its own: released, not stored
    assert(released == Seq("b", "huge") && r.get[String](sc, "huge", 0).isEmpty)
    // a stale fingerprint drops the entry; a pin weighs nothing
    assert(r.get[String](sc, "a", 1).isEmpty && released.last == "a")
    assert(r.pin(sc, "p", 0)((_: String) => released += "p")("pinned") == "pinned")
    assert(r.pin(sc, "p", 0)((_: String) => ())("rebuilt") == "pinned")
    assert(r.pin(sc, "p", 1)((_: String) => ())("rebuilt") == "rebuilt" && released.last == "p")
    assert(r.stats(sc) == SessionRegistry.Stats(entries = 2, builds = 6, hits = 2,
      bytes = 40, buildSeconds = r.stats(sc).buildSeconds))
  }

  test("a listing of nested directories is the fingerprint of a listFiles walk") {
    import spark.implicits._
    val root = tmp("graft-registry-listing")
    (1 to 12).map(i => (i % 3, i % 2, s"v$i")).toDF("a", "b", "s")
      .write.partitionBy("a", "b").parquet(s"$root/t")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/t/empty/deeper"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/top.txt"), "x".getBytes)
    def walk(p: String) = {
      val path = new org.apache.hadoop.fs.Path(p)
      val it = path.getFileSystem(sc.hadoopConfiguration).listFiles(path, true)
      SessionRegistry.fingerprint(Iterator.continually(it).takeWhile(_.hasNext)
        .map(_.next(): org.apache.hadoop.fs.FileStatus).toSeq)
    }
    val listed = SessionRegistry.listing(spark, Seq(root))
    assert(listed.size > 6, listed)
    assert(listed == walk(root))
    assert(SessionRegistry.listing(spark, Seq(s"$root/top.txt")) == walk(s"$root/top.txt"))
    assert(SessionRegistry.listing(spark, Seq(s"$root/t", s"$root/none")) == walk(s"$root/t"))
  }

  test("stopping the context drops that context's entries") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.RegistryStopCheck", tmp("graft-registry-stop"))
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, out.toString)
    assert(out.toString.contains("before stop: 1 entries"), out.toString)
    assert(out.toString.contains("after stop: 0 entries"), out.toString)
  }
}

/** Run by [[SessionRegistrySpec]] in a JVM of its own: one local
  * session stores one file's rows, then stops. */
object RegistryStopCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("registry-stop")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "s").write.parquet(s"${args(0)}/t")
    LocalEval(Graft.parquet(spark, s"${args(0)}/t").filter(col("k") === 1)).collect()
    println(s"before stop: ${SessionRegistry.shared.stats(sc).entries} entries")
    spark.stop()
    println(s"after stop: ${SessionRegistry.shared.stats(sc).entries} entries")
  }
}
