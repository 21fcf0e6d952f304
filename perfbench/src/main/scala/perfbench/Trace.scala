package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark activity attributed to one request: its jobs (wall intervals and
  * the stages each declared), per-stage task aggregates and the planning
  * time of every query execution it ran. */
final case class Activity(
    jobs: Seq[(Long, Long, Seq[Int])],
    stages: Map[Int, StageAgg],
    planningMs: Double) {

  /** Union of job wall intervals clipped to [from, to], in ms. Overlapping
    * jobs (AQE, async broadcasts) count once. */
  def jobUnionMs(from: Long, to: Long): Long = {
    val iv = jobs.map { case (s, e, _) => (s max from, (if (e < 0) to else e) min to) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Stages that ran tasks for this request's jobs (skipped stages of a
    * job's declared DAG have no task records and are not counted). */
  def ranStages: Seq[StageAgg] =
    jobs.flatMap(_._3).distinct.flatMap(stages.get)

  def sum(f: StageAgg => Double): Double = ranStages.map(f).sum
}

final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var diskSpill = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var recordsRead = 0L
}

/** One timed span on the driver thread. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    req: String, startMs: Long, var endMs: Long)

/** Tracing from outside the program: spans around layer calls plus a
  * SparkListener / QueryExecutionListener pair. Requests tag their jobs
  * through the `perfbench.req` local property, so stages are attributed
  * by each job's declared `stageIds`. Everything is kept in memory and
  * written out at the end; nothing is attached while tracing is off. */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {

  /** Whether requests and spans are being traced right now. */
  private var _on = false
  def on: Boolean = _on

  /** Starts or stops tracing; the listeners are attached only while on. */
  def set(enable: Boolean): Unit = if (enable != _on) {
    PerfbenchBus.drain(spark.sparkContext)
    if (enable) {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
    } else {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
    _on = enable
  }

  private val jobs = mutable.Map[Int, (String, Long, Long, Seq[Int])]()
  private val stages = mutable.Map[Int, StageAgg]()
  private val planning = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(-1)
  private val ReqKey = "perfbench.req"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(ReqKey))).getOrElse("")
    jobs(e.jobId) = (req, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (r, s, _, st) => jobs(e.jobId) = (r, s, e.time, st) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.diskSpill += m.diskBytesSpilled
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }
  // Query-execution callbacks arrive on the bus thread; the bus is drained
  // at the end of every request, so each callback belongs to `current`.
  @volatile private var current = ""
  private def planned(qe: QueryExecution): Unit = synchronized {
    planning(current) += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  /** Runs `body` as request `req`; returns its result and its Activity
    * (empty when tracing is off). */
  def request[T](req: String)(body: => T): (T, Activity) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ReqKey, req)
    current = req
    val out = try body finally sc.setLocalProperty(ReqKey, null)
    (out, if (on) take(req) else Activity(Nil, Map.empty, 0.0))
  }

  private def take(req: String): Activity = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val mine = jobs.filter(_._2._1 == req)
      mine.keys.foreach(jobs.remove)
      val js = mine.values.map { case (_, s, e, st) => (s, e, st) }.toSeq
      val ids = js.flatMap(_._3).toSet
      val st = stages.filter { case (k, _) => ids(k) }.toMap
      st.keys.foreach(stages.remove)
      Activity(js, st, planning.remove(req).getOrElse(0.0))
    }
  }

  /** Times `body` as a span of `layer`; spans nest by call order. */
  def span[T](layer: String, name: String, req: String = "")(body: => T): T = {
    if (!on) return body
    val s = Span(spans.size, stack.head, layer, name, req, System.currentTimeMillis(), -1L)
    spans += s
    stack = s.id :: stack
    try body finally { s.endMs = System.currentTimeMillis(); stack = stack.tail }
  }

  /** Span list with self time (span minus the union of its children). */
  def spanRecords: Seq[Map[String, Any]] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val child = Activity(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs, Nil)).toSeq,
        Map.empty, 0).jobUnionMs(s.startMs, s.endMs)
      Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "req" -> s.req, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> (s.endMs - s.startMs - child))
    }
  }
}
