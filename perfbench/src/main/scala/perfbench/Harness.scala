package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed request of a workload: a name, the call that builds its
  * DataFrame through the program's public API, and an output check. */
final case class Req(name: String, run: () => DataFrame,
    check: Array[Row] => Option[String] = _ => None)

/** What one executed request left behind. */
final case class Done(name: String, pass: String, round: Int, seconds: Double,
    rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
    error: Option[String], act: Activity, startMs: Long, endMs: Long)

/** JVM side of the benchmark. Usage:
  * {{{
  * perfbench.Harness <workload> <workDir> <seed> <seconds> <trace 0|1> <generateSeconds> [<baseDir>]
  * }}}
  * `workDir` holds the inputs `run.py` generated; the harness
  * writes `result.json` (metrics, checks, provenance), `trace.json` (spans,
  * traced runs only) and the oracle-checked catalog results there. The
  * workload `crm_base` builds the base states of `crm_cycle` in `workDir`;
  * `crm_cycle` reads them from `baseDir`. */
object Harness {

  /** Reads `expected.json` and writes the result files. */
  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val Array(workload, work, seedS, secondsS, traceS, genS) = args.take(6)
    val base = args.lift(6).getOrElse(work)
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Session.create(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = new Out(spark, Paths.get(work), traceS == "1", cpus)
    out.metric("setup.session_s", sessionS)
    out.metric("setup.generate_s", genS.toDouble)
    try {
      workload match {
        case "catalog" => new CatalogWorkload(spark, out, work, seedS.toLong).run(secondsS.toInt)
        case "crm_cycle" => new CrmWorkload(spark, out, work, base, seedS.toLong).run(secondsS.toInt)
        case "crm_base" => CrmWorkload.base(spark, out, work)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        out.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        e.printStackTrace()
    }
    out.write()
    spark.stop()
  }
}

/** The session the benchmark measures: the conf `graft.Bench` ships
  * (local[cores], shuffle partitions = cores, AQE on, UTC, nanosAsLong),
  * with scratch and warehouse locations kept inside the work directory. */
object Session {
  def create(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Collects timings, checks and metrics, and writes `result.json`. */
final class Out(val spark: SparkSession, val dir: Path, val traced: Boolean, val cpus: Int) {
  val tracer = new Tracer(spark)
  private val metrics = mutable.LinkedHashMap[String, Double]()
  private val failures = mutable.ArrayBuffer[String]()
  private val info = mutable.LinkedHashMap[String, Any]()
  val done = mutable.ArrayBuffer[Done]()
  var attempted = 0

  private val born = System.nanoTime()

  /** Progress line on stderr, with seconds since the harness started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - born) / 1e9}%7.1fs] $msg")

  def metric(name: String, v: Double): Unit = metrics(name) = v
  def note(k: String, v: Any): Unit = info(k) = v
  def fail(msg: String): Unit = failures += msg
  def check(ok: Boolean, msg: => String): Unit = { attempted += 1; if (!ok) fail(msg) }

  /** Runs one request as a closed-loop client: build, collect, stop the
    * clock; the check runs after the clock stops. */
  def run(r: Req, pass: String, round: Int, rec: Boolean = true): Done = {
    val id = s"$pass-$round-${r.name}"
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val ((rows, schema, err), act) = tracer.request(id) {
      tracer.span("request", r.name, id) {
        try {
          val df = r.run()
          (df.collect(), df.schema, None)
        } catch {
          case e: Throwable => (Array.empty[Row], null,
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
        }
      }
    }
    val secs = (System.nanoTime() - n0) / 1e9
    log(f"${r.name}%-24s $pass%-12s $secs%7.2fs ${err.getOrElse("")}")
    val d = Done(r.name, pass, round, secs, rows, schema, err, act, s0, System.currentTimeMillis())
    if (rec) {
      done += d
      attempted += 1
      err.orElse(r.check(rows)).foreach(m => fail(s"${r.name} ($pass, round $round): $m"))
    }
    d
  }

  /** Wall seconds of `body`, recorded as a span of `layer`. */
  def timed(layer: String, name: String)(body: => Unit): Double = {
    val n0 = System.nanoTime()
    tracer.span(layer, name)(body)
    (System.nanoTime() - n0) / 1e9
  }

  /** Spark storage held by persisted blocks (memory + disk), MB. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def write(): Unit = {
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver.memory")
    }
    val res = Map(
      "metrics" -> metrics.toMap,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.take(50).toSeq,
      "info" -> info.toMap,
      "spark_conf" -> conf,
      "spark_version" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "requests" -> done.map(d => Map("name" -> d.name, "pass" -> d.pass,
        "round" -> d.round, "s" -> d.seconds, "rows" -> d.rows.length,
        "ok" -> d.error.isEmpty)).toSeq)
    Harness.json.writeValue(dir.resolve("result.json").toFile, res)
    if (traced) Harness.json.writeValue(dir.resolve("trace.json").toFile, tracer.spanRecords)
  }
}

/** Request-level statistics shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val r = (s.size - 1) * p / 100
    val lo = r.floor.toInt
    val hi = (lo + 1) min (s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** Highest whole percentile with at least 10 of `n` samples beyond it,
    * within [50, 99]. */
  def tailPct(n: Int): Double = (100 * (n - 10) / n.max(1)).max(50).min(99).toDouble

  /** Order-insensitive result fingerprint: row count plus the wrapping
    * sum of per-row hashes, with floating values at 9 significant digits
    * so partition-order summation noise does not count as a difference. */
  def fingerprint(rows: Array[Row]): (Int, Long) = {
    def norm(v: Any): Any = v match {
      case d: Double => if (d.isNaN) "NaN" else f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(norm)
      case s: scala.collection.Seq[_] => s.map(norm)
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (norm(k), norm(x)) }.sortBy(_.toString)
      case a: Array[_] => a.toSeq.map(norm)
      case o => o
    }
    (rows.length, rows.foldLeft(0L)((acc, r) => acc + norm(r).hashCode.toLong))
  }

  /** Per-request layer metrics over traced requests, as means per request. */
  def layer(out: Out, prefix: String, ds: Seq[Done]): Unit = {
    val n = ds.size.max(1).toDouble
    def tot(f: Done => Double) = ds.map(f).sum
    val gap = tot(d => d.seconds - d.act.jobUnionMs(d.startMs, d.endMs) / 1e3).max(0)
    out.metric(s"$prefix.planning_s", tot(_.act.planningMs) / 1e3 / n)
    out.metric(s"$prefix.gap_s", gap / n)
    out.metric(s"$prefix.job_s", tot(d => d.act.jobUnionMs(d.startMs, d.endMs) / 1e3) / n)
    out.metric(s"$prefix.n_jobs", tot(_.act.jobs.size) / n)
    out.metric(s"$prefix.n_stages", tot(_.act.ranStages.size) / n)
    out.metric(s"$prefix.n_tasks", tot(_.act.sum(_.tasks)) / n)
    out.metric(s"$prefix.shuffle_mb", tot(_.act.sum(_.shuffleWrite)) / 1e6 / n)
    val rowsOut = tot(_.rows.length).max(1)
    out.metric(s"$prefix.rows_read_per_row_out", tot(_.act.sum(_.recordsRead)) / rowsOut)
  }

  /** Engine-wide metrics over a set of activities spanning `wallS`. */
  def engine(out: Out, acts: Seq[Activity], wallS: Double): Unit = {
    def tot(f: StageAgg => Double) = acts.map(_.sum(f)).sum
    out.metric("engine.task_cpu_s", tot(_.cpuNs) / 1e9)
    out.metric("engine.task_busy_frac",
      if (wallS > 0) tot(_.runMs) / 1e3 / (wallS * out.cpus) else 0.0)
    out.metric("engine.spill_mb", tot(_.diskSpill) / 1e6)
    out.metric("engine.gc_s", tot(_.gcMs) / 1e3)
  }
}

/** Directory helpers. */
object Dirs {
  /** Every regular file under `dir`. */
  def files(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
  }
}
