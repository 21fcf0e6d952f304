package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `catalog`: closed-loop passes over a fixed list of catalog queries,
  * called through `graft.SparkEntry.queries`: light queries whose cost is
  * fixed per query, and one iterative consumer of each pinned
  * shared-intermediate family.
  *
  * Set-up warms the engine on tiny tables in another directory. A cold
  * pass over the measured tables follows: shared intermediates are pinned
  * per `applicationId:dataDir` and this JVM has not read that directory
  * yet, so the pass builds them, and it pays the first-call JIT and
  * codegen of the iterative queries. Warm passes follow and reuse the
  * pins. The seed only permutes the query order. */
final class CatalogWorkload(spark: SparkSession, out: Out, work: String, seed: Long) {

  private val catalog = graft.SparkEntry.queries
  private val names = CatalogWorkload.Light ++ CatalogWorkload.PinFamilies.values.flatten
  private val order = new scala.util.Random(seed).shuffle(names)
  private val pins = mutable.Set[Int]()

  private def req(n: String, dir: String) = Req(n, () => catalog(n)(spark, dir))

  /** One pass; also records which persistent RDDs each request left. */
  private def pass(dir: String, label: String): Seq[Done] = order.map { n =>
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = out.run(req(n, dir), label, 1)
    pins ++= spark.sparkContext.getPersistentRDDs.keySet -- before
    d
  }

  def run(seconds: Int): Unit = {
    val missing = names.filterNot(catalog.contains)
    out.check(missing.isEmpty, s"queries missing from the catalog: ${missing.mkString(",")}")
    // Set-up warms the engine with the light queries on the tiny tables.
    // Traced runs warm every query there, so their cold-minus-warm figures
    // hold pin builds and first reads without per-query JIT.
    val warmUp = mutable.LinkedHashMap[String, Double]()
    val warmS = out.timed("setup", "jit_warm") {
      order.filter(n => out.traced || CatalogWorkload.Light.contains(n)).foreach { n =>
        val d = out.run(req(n, s"$work/warm"), "warm-up", 0, rec = false)
        out.check(d.error.isEmpty, s"$n (warm-up): ${d.error.getOrElse("")}")
        warmUp(n) = d.seconds
      }
    }
    out.note("warm_up_s", warmUp)
    out.metric("setup.jit_warm_s", warmS)

    val dir = s"$work/data"
    out.tracer.set(out.traced)
    val pins0 = pins.size
    val coldS = out.timed("pass", "cold")(pass(dir, "cold"))
    val pinBuilds = pins.size - pins0
    // A fixed number of warm passes, so every run has the same requests:
    // `seconds` / 2 of them, at least 2 (a warm pass is 1.4-1.8 s on a
    // 4-core host, and the run must fit its share of the time budget). A
    // traced run doubles them and alternates untraced and traced passes,
    // untraced first, so the tracing overhead is measured on the same work.
    val warm = mutable.ArrayBuffer[(Boolean, Double)]()
    val passes = math.round(seconds / 2.0).toInt.max(2) * (if (out.traced) 2 else 1)
    while (warm.size < passes) {
      val traced = out.traced && warm.size % 2 == 1
      out.tracer.set(traced)
      warm += ((traced, out.timed("pass", "warm")(pass(dir, if (traced) "warm-traced" else "warm"))))
    }
    out.tracer.set(false)
    val plainWarm = warm.filterNot(_._1).map(_._2).toSeq
    out.metric("cold_s", coldS)
    out.metric("warm_s", Stats.median(plainWarm))
    out.metric("wall_s", coldS + plainWarm.sum)
    val lat = out.done.filter(_.pass != "warm-traced").map(_.seconds).toSeq
    val tail = Stats.tailPct(lat.size)
    out.metric("query_p50_s", Stats.pct(lat, 50))
    out.metric("query_tail_s", Stats.pct(lat, tail))
    out.note("tail_percentile", tail)
    out.note("latency_samples", lat.size)
    out.note("warm_passes", plainWarm.size)
    out.note("query_order", order)

    if (out.traced) {
      val tracedWarm = warm.filter(_._1).map(_._2).toSeq
      out.metric("trace.overhead_frac", Stats.median(tracedWarm) / Stats.median(plainWarm) - 1)
      val traced = out.done.filter(d => d.pass == "cold" || d.pass == "warm-traced").toSeq
      Stats.layer(out, "catalog", traced)
      val loops = traced.filterNot(d => CatalogWorkload.Light.contains(d.name))
      val jobs = loops.map(_.act.jobs.size).sum
      val n = loops.size.max(1).toDouble
      out.metric("operators.jobs_per_query", jobs / n)
      out.metric("operators.gap_per_job_ms", loops.map(d =>
        d.seconds * 1e3 - d.act.jobUnionMs(d.startMs, d.endMs)).sum / jobs.max(1))
      out.metric("operators.tasks_per_job", loops.map(_.act.sum(_.tasks)).sum / jobs.max(1))
      out.metric("operators.shuffle_write_mb", loops.map(_.act.sum(_.shuffleWrite)).sum / 1e6 / n)
      out.metric("catalog.pin_builds", pinBuilds.toDouble)
      // Per family: cold minus first traced warm latency of its consumers.
      val fam = CatalogWorkload.PinFamilies.map { case (f, qs) =>
        def s(p: String) = traced.filter(d => d.pass == p && qs.contains(d.name))
          .map(_.seconds).sum
        f -> (s("cold") - s("warm-traced") / warm.count(_._1))
      }
      fam.foreach { case (f, v) => out.metric(s"catalog.pin_build_s.$f", v) }
      out.metric("catalog.pin_build_s", fam.values.sum)
      val pinnedMb = spark.sparkContext.getRDDStorageInfo.filter(i => pins(i.id))
        .map(i => i.memSize + i.diskSize).sum / 1e6
      out.metric("catalog.pinned_mb", pinnedMb)
      out.metric("engine.cached_mb", out.cachedMb)
      Stats.engine(out, traced.map(_.act), coldS + tracedWarm.sum)
    }
    checks()
  }

  /** Output checks, after the timed passes. Pin queries must give the
    * same rows cold and warm (a stale or wrong pin shows as a difference);
    * queries with a DuckDB oracle have their last warm result written out
    * for the oracle comparison `run.py` runs. */
  private def checks(): Unit = {
    for (n <- order if !CatalogWorkload.Light.contains(n)) {
      val runs = out.done.filter(d => d.name == n && d.error.isEmpty)
      for (c <- runs.find(_.pass == "cold"); w <- runs.filter(_.pass != "cold"))
        out.check(Stats.fingerprint(c.rows) == Stats.fingerprint(w.rows),
          s"$n: cold and warm (${w.pass}) results differ")
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => order.contains(n) }
    val resDir = Paths.get(s"$work/results")
    Files.createDirectories(resDir)
    oracle.keys.foreach { n =>
      out.done.reverseIterator.find(d => d.name == n && d.pass == "warm" && d.error.isEmpty)
        .foreach { d =>
          spark.createDataFrame(java.util.Arrays.asList(d.rows: _*), d.schema)
            .coalesce(1).write.mode("overwrite").parquet(resDir.resolve(n).toString)
        }
    }
    Harness.json.writeValue(resDir.resolve("oracle_sql.json").toFile, oracle)
  }
}

object CatalogWorkload {
  /** Light queries: planning, table registration, driver gaps and job
    * launch are most of their cost. */
  val Light: Seq[String] = Seq("q1_pricing_summary", "o2_topk_customers")

  /** One consumer per pinned family. Each is an iterative operator (many
    * jobs per query, one driver round-trip per round), and the first
    * consumer of a family in a pass builds the family's pin. */
  val PinFamilies: Map[String, Seq[String]] = Map(
    "hyperball" -> Seq("g_neighborhood_func"),
    "minhash" -> Seq("x_minhash_bucket_stats"),
    "walk" -> Seq("g_random_walks"))
}
