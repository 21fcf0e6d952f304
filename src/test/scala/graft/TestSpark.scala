package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide.md: one session
  * per suite via lazy val; sharing across suites is fine in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs launched while `body` runs, counted by a listener once
    * the bus has gone quiet. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val cur = n.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      spark.sparkContext.removeSparkListener(l)
    }
    n.get()
  }

  /** Classes Spark's code generator compiled while `body` ran: the
    * JVM-wide `CodegenMetrics` compilation count, a cache miss each. */
  def codegenCompilesDuring(body: => Unit): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }
}
