package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every SparkEntry query runs at sf0.001 and yields a sane result.
  * (Value-level correctness is the driver's DuckDB gate + scripts/check.py.) */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Queries whose result can be legitimately empty at tiny scale.
    * g_kcore joined in round 8: the TRUE k=70 core of the sf0.001
    * co-occurrence graph is empty (the old fixed-5-sweep loop stopped
    * mid-cascade at 123 nodes); the oracle pins the same empty set. */
  private val mayBeEmpty =
    Set("x_minhash_lsh", "x_ngram_jaccard", "j5_anti_no_big_p", "g_kcore")

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has matching oracle-naming discipline") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("catalog names are unique across all catalogs") {
    // queries is a Map, so a duplicate name silently SHADOWS an earlier
    // entry (last catalog wins) — the whole shadowed query would drop
    // out of the correctness gate without any red row. Count the raw
    // Q entries instead.
    val names = Seq(
      catalog.RelationalCatalog.all, catalog.AggWindowCatalog.all,
      catalog.TextCatalog.all, catalog.VectorCatalog.all,
      catalog.GraphCatalog.all).flatten.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate catalog query names: $dups")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, dir)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      assert(df.columns.nonEmpty)
    }
  }

  test("x_rendezvous_shards compiles its generated code and keeps the fold's rows") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.functions._
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-compile-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Failed to compile")) failures.add(m)
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    def failed(body: => Unit): Int = {
      failures.clear()
      root.addAppender(appender)
      try body finally root.removeAppender(appender)
      failures.size
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    var got = Seq.empty[String]
    assert(failed { got = rows(SparkEntry.queries("x_rendezvous_shards")(spark, dir)) } == 0)
    // the pairwise fold it replaces, which the appender sees fail
    var want = Seq.empty[String]
    assert(failed {
      def w(sh: Int) = expr(
        s"CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':$sh')), 1, 12), 16, 10) AS BIGINT)")
      val withW = catalog.Q.t(spark, dir, "documents").select(
        (col("doc_id") +: (0 to 10).map(i => w(i).as(s"w$i"))): _*)
      val best10 = (0 to 9).map(i =>
        struct(col(s"w$i").as("wt"), lit(i).as("sh"))).reduce((a, b) =>
        when(a("wt") >= b("wt"), a).otherwise(b))
      val assigned = withW.withColumn("b10", best10)
        .withColumn("shard10", col("b10.sh"))
        .withColumn("moved", (col("w10") > col("b10.wt")).cast("long"))
      val tot = assigned.agg(count(lit(1)).as("__n"), sum("moved").as("__moved"))
      want = rows(assigned.groupBy("shard10")
        .agg(count(lit(1)).as("n_docs"), sum("moved").as("n_moved_out"))
        .crossJoin(tot)
        .withColumn("moved_ppm_total", expr("1000000 * __moved div __n"))
        .select("shard10", "n_docs", "n_moved_out", "moved_ppm_total")
        .orderBy("shard10"))
    } > 0)
    assert(got == want)
    assert(got.size == 10)
  }

  test("graph catalog queries build without driver-scalar pre-fetch jobs") {
    // Round-7 verdict #3: five GraphCatalog queries used to fetch a
    // source node or avg-weight threshold with a separate
    // `agg(...).head()` driver job before the main plan — a second full
    // pass over the edge frame at scale. Folded in-plan, NO job whose
    // call site is a scalar fetch (`head at` / `isEmpty at`) may fire
    // while the query DataFrame is constructed; checkpoint, broadcast
    // and the iterative operators' documented `count at` convergence
    // probes remain legitimate. (Exact job counts are not pinned — AQE
    // splits materializations into a host-dependent number of jobs.)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sites = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(Option(j.properties.getProperty("callSite.short")).getOrElse(""))
    }
    def scalarFetchSitesDuring(f: => Unit): Seq[String] = {
      sites.clear()
      spark.sparkContext.addSparkListener(l)
      try {
        f
        // listener events post asynchronously; wait until the set stops
        // growing rather than racing the bus
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val cur = sites.size()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
      } finally spark.sparkContext.removeSparkListener(l)
      import scala.jdk.CollectionConverters._
      sites.asScala.toSeq.filter(s =>
        s.startsWith("head at") || s.startsWith("isEmpty at") ||
          s.startsWith("first at"))
    }
    for (q <- Seq("g_ppr_trade", "g_link_predict", "g_adamic_adar",
        "g_bfs_hops", "g_shortest_trade",
        // round-9 additions: seeds/edge-counts/pivots must also fold
        // in-plan (1-row broadcasts), never driver-fetch
        "g_modularity", "g_closeness_sampled", "g_random_walks",
        "x_bm25_topk", "j13_interval_overlap",
        "g_ktruss", "g_walk_skipgrams", "a_kmv_union",
        "g_harmonic_hyperball", "g_sage_sampling")) {
      val bad = scalarFetchSitesDuring { SparkEntry.queries(q)(spark, dir) }
      assert(bad.isEmpty,
        s"$q construction ran driver-scalar fetch jobs: $bad")
    }
  }

  test("x_ccnet_buckets plan carries no unpartitioned ntile window") {
    // Round-9 verdict #1: the tercile assignment used to be
    // `ntile(3) OVER (ORDER BY avg_logp DESC, doc_id)` — a global sort
    // funneled through ONE partition. The rewrite derives identical
    // buckets from per-score cumulative counts (bounded frame) + a
    // broadcast cutoff join, so NO ntile of any kind may survive into
    // the physical plan; the only unpartitioned window allowed is the
    // prefix sum over the distinct-score frame (bounded by the 4dp
    // score resolution, not the corpus).
    val df = SparkEntry.queries("x_ccnet_buckets")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("ntile"),
      "x_ccnet_buckets physical plan still contains an ntile window")
    // and the row-stream windows must all be partitioned: any WindowExec
    // whose child is the full doc-score stream (join output) is the
    // funnel shape; partitionBy(avg_logp) windows and the bounded
    // score-frame prefix sum are the only windows expected.
    import org.apache.spark.sql.execution.window.WindowExec
    val unpart = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    // exactly the one bounded score-frame prefix sum may be unpartitioned
    assert(unpart.size <= 1,
      s"unexpected unpartitioned windows: ${unpart.map(_.simpleString(120))}")
    unpart.foreach { w =>
      assert(w.windowExpression.mkString(",").contains("sum"),
        "the surviving unpartitioned window is not the bounded prefix sum")
    }
  }

  test("decimal money path agrees with the double path at 2dp per group") {
    // q1_pricing_decimal is exact by construction; the double path rounds
    // once at the end — the two may differ by at most one ulp of the 2dp
    // rounding on any group.
    import org.apache.spark.sql.functions.col
    val dbl = SparkEntry.queries("q1_pricing_summary")(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_base"), col("sum_disc_price"), col("sum_charge"))
    val dec = SparkEntry.queries("q1_pricing_decimal")(spark, dir)
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("sum_qty").as("d_qty"), col("sum_base").as("d_base"),
        col("sum_disc_price").as("d_disc"), col("sum_charge").as("d_charge"))
    val joined = dbl.join(dec,
      col("l_returnflag") === col("rf") && col("l_linestatus") === col("ls"))
    assert(joined.count() == dbl.count() && dbl.count() > 0)
    joined.collect().foreach { r =>
      def near(a: String, b: String): Unit =
        assert(math.abs(r.getAs[Double](a) - r.getAs[String](b).toDouble) <= 0.011,
          s"$a vs $b diverged on ${r.getAs[String]("l_returnflag")}/${r.getAs[String]("l_linestatus")}")
      near("sum_qty", "d_qty"); near("sum_base", "d_base")
      near("sum_disc_price", "d_disc"); near("sum_charge", "d_charge")
    }
  }

  test("every sf0.001 table reads with its footer schema: the inferred schema, no job") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    spark.conf.set(key, "true") // as Q.t sets it for events
    try new java.io.File(dir).list.filter(_.endsWith(".parquet")).sorted
      .foreach(t => FooterSchemaSpec.assertFooterSchema(spark, s"$dir/$t"))
    finally spark.conf.set(key, before)
  }

  /** A copy of the sf0.001 tables in a directory no query has read. */
  private def copy(): String = {
    val to = java.nio.file.Files.createTempDirectory("graft-pins").toString
    new java.io.File(dir).listFiles.foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(s"$to/${f.getName}").toPath)
    }
    to
  }

  private def rows(name: String, d: String): Seq[String] =
    SparkEntry.queries(name)(spark, d).collect().map(_.toString).toSeq

  test("pins: cold and warm answers of every pin family are row-identical") {
    val d = copy()
    val consumers = Seq("g_neighborhood_func", "g_eff_diameter", "g_triangles_copart",
      "g_random_walks", "g_walk_skipgrams", "x_minhash_bucket_stats", "x_minhash_error")
    val cold = consumers.map(rows(_, d))
    val registry = graft.plans.SessionRegistry.shared
    val hits = registry.stats(spark.sparkContext).hits
    val warm = consumers.map(rows(_, d))
    consumers.zip(cold.zip(warm)).foreach { case (n, (c, w)) => assert(c == w, n) }
    assert(registry.stats(spark.sparkContext).hits >= hits + consumers.size)
  }

  test("pins: rewriting lineitem in place rebuilds the HyperBall registers") {
    val d = copy()
    val before = rows("g_neighborhood_func", d)
    // keep the orders with an even key: fewer co-occurrence pairs
    val path = s"$d/lineitem.parquet"
    val kept = spark.read.parquet(path).filter("l_orderkey % 2 = 0").collect()
    val schema = spark.read.parquet(path).schema
    new java.io.File(path).delete()
    spark.createDataFrame(java.util.List.of(kept: _*), schema).coalesce(1)
      .write.parquet(s"$d/lineitem.tmp")
    val part = new java.io.File(s"$d/lineitem.tmp").listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(path).toPath)
    val after = rows("g_neighborhood_func", d)
    assert(after != before)
    assert(after == rows("g_neighborhood_func", d))
  }
}
