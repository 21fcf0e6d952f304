package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Components, GraphAlgos, Lineage}

/** The reliable-checkpoint knob (round-7 verdict #4): with a checkpoint
  * dir configured, iterative operators cut lineage via durable
  * `checkpoint()` — blocks survive executor loss — and the result plan
  * genuinely no longer references the input scan. Without one they fall
  * back to `localCheckpoint()`. Same rows either way.
  */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edgesFromParquet() =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .limit(500)
      .select(col("l_partkey").as("u"), col("l_suppkey").as("v"))

  test("Lineage.cut is local without a dir, reliable (and on disk) with one") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "test assumes no ambient checkpoint dir")
    val df = Seq((1, 2)).toDF("a", "b")
    val local = Lineage.cut(df)
    assert(local.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      Lineage.cut(df).count()
      // reliable mode actually persisted blocks under the configured dir
      def filesUnder(f: java.io.File): Long =
        if (f.isFile) 1L
        else Option(f.listFiles).map(_.map(filesUnder).sum).getOrElse(0L)
      assert(filesUnder(new java.io.File(dir)) > 0,
        "reliable checkpoint wrote nothing under the checkpoint dir")
    } finally sc.setCheckpointDir(null)
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("iterative operators under reliable mode: lineage cut, rows identical") {
    val sc = spark.sparkContext
    val edges = edgesFromParquet()
    // baseline rows under the default local mode; localThreshold = 0
    // forces the distributed loop so the per-round cut is exercised
    val want = Components.connectedComponents(edges, "u", "v", localThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    val got =
      try {
        val comps = Components.connectedComponents(edges, "u", "v", localThreshold = 0)
        // the returned frame's lineage must be CUT: its plan may not
        // reach back to the parquet scan (an executor replaying it
        // would need exactly that lineage — the thing reliable
        // checkpointing removes the dependence on)
        val plan = comps.queryExecution.optimizedPlan.toString
        assert(!plan.toLowerCase.contains("parquet"),
          s"reliable-mode result still references the input scan:\n$plan")
        comps.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally sc.setCheckpointDir(null)
    assert(got == want)
    // spot-check a second operator family under the same knob
    sc.setCheckpointDir(dir)
    try {
      val core = GraphAlgos.kCore(edges, k = 2)
      assert(!core.queryExecution.optimizedPlan.toString.toLowerCase.contains("parquet"))
      assert(core.count() > 0)
    } finally sc.setCheckpointDir(null)
  }

  test("RoundGc bounds reliable-checkpoint storage: dirs do not grow with iters") {
    // Round-8 advice (medium): without per-round GC every iteration
    // leaves a durable dataset copy under the checkpoint dir for the
    // job's whole lifetime (Spark only reclaims them after JVM GC with
    // the cleaner flag on). The loops now delete generation r-1 once
    // generation r is materialized — so the number of rdd-* checkpoint
    // dirs at the end is CONSTANT in the iteration count, while the
    // returned frame (kept generation) still collects correctly.
    val sc = spark.sparkContext
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    def rddDirsUnder(root: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).map(_.toSeq.flatMap(c => c +: walk(c))).getOrElse(Nil)
      walk(new java.io.File(root)).count(f =>
        f.isDirectory && f.getName.startsWith("rdd-"))
    }
    val want = GraphAlgos.pageRank(edges, iters = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def runWithDir(iters: Int): (Int, Map[Long, Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-gc").toString
      sc.setCheckpointDir(dir)
      try {
        val got = GraphAlgos.pageRank(edges, iters = iters, localThreshold = 0)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        (rddDirsUnder(dir), got)
      } finally sc.setCheckpointDir(null)
    }
    val (dirs3, _) = runWithDir(3)
    val (dirs12, got12) = runWithDir(12)
    // identical footprint at 3 and 12 iterations = per-round copies die
    assert(dirs12 == dirs3,
      s"checkpoint dirs grew with iteration count: $dirs3 at 3 iters, $dirs12 at 12")
    // and the kept generation still backs the returned frame
    assert(got12.keySet == want.keySet)
    want.foreach { case (k, v) => assert(math.abs(got12(k) - v) < 1e-12) }
  }

  test("Lineage.cutCounted: the count is the cut's own job locally; reliable mode adds one") {
    val sc = spark.sparkContext
    // a fresh plan per call: a Dataset keeps its executed AQE plan, so a
    // second cut of the same object would skip the shuffle stage
    def df = (1 to 50).toDF("a").repartition(3)
    def check(what: String, extraJobs: Int): Unit = {
      var got: (org.apache.spark.sql.DataFrame, Long) = null
      val counted = TestSpark.jobsDuring { got = Lineage.cutCounted(df) }
      val cut = TestSpark.jobsDuring { Lineage.cut(df) }
      assert(got._2 == 50L, s"$what: counted ${got._2}")
      assert(counted == cut + extraJobs, s"$what: $counted jobs counted vs $cut for the cut")
      assert(got._1.collect().map(_.getInt(0)).sorted.toSeq == (1 to 50), what)
    }
    check("local", 0)
    // the count job completes the local checkpoint: reading the cut
    // frame again computes none of its rows
    val computed = sc.longAccumulator("rows computed")
    val tick = udf { (a: Int) => computed.add(1L); a }
    val (cp, n) = Lineage.cutCounted(df.select(tick(col("a")).as("a")))
    assert(n == 50L && computed.value == 50L, s"counted $n, computed ${computed.value}")
    assert(cp.collect().length == 50 && cp.count() == 50L)
    assert(computed.value == 50L, s"${computed.value} rows computed after reading the cut")
    sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    try check("reliable", 1)
    finally sc.setCheckpointDir(null)
  }

  test("an admitted counted cut is released without the local-checkpoint warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.LocalGate
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-lineage-warn", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    def warned(): Boolean = lines.toArray.exists(_.toString.contains("was locally checkpointed"))
    try {
      // an RDD-backed frame has no size estimate: LocalEval declines it,
      // so the gate takes the counted cut, collects it and releases it
      val schema = StructType(Seq(StructField("s", LongType), StructField("d", LongType)))
      val frame = spark.createDataFrame(spark.sparkContext.parallelize(
        (1L to 20L).map(i => Row(i, i + 1)), 2), schema)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val cut = LocalGate.cut(frame, LocalGate.DefaultRows)
      assert(cut.map(_.rows.length) == Right(20), cut)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before, "the cut kept its blocks")
      assert(!warned(), lines)
      // the appender sees the warning when a local checkpoint is unpersisted
      val cp = frame.localCheckpoint()
      cp.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist()
      }
      assert(warned(), "the appender caught no warning")
    } finally root.removeAppender(appender)
  }
}
