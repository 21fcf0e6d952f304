package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement harness (optimization guide §1): runs named catalog queries
  * once warm (sf0.001 sibling) and once timed, with a SparkListener that
  * attributes wall time to jobs vs driver-side gaps (planning, AQE
  * re-optimization, checkpoint bookkeeping). Per query prints:
  *   total_s, n_jobs, n_stages, n_tasks, job_s (wall covered by at least
  *   one job), gap_s (wall not covered by any job = driver work), top 5
  *   jobs by duration.
  *
  * Usage: `runMain graft.Profile q1 q2 ...` with SPARK_GRAFT_SF_DIR
  * (default sf0.1) and SPARK_GRAFT_CPUS (default: every core).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session()
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir)
      Option(p.getParent).map(_.resolve("sf0.001").toString)
        .filter(w => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(w)))
        .getOrElse(sfDir)
    }

    final case class JobRec(id: Int, start: Long, var end: Long = -1L,
        var stages: Int = 0, var tasks: Int = 0,
        stageIds: Set[Int] = Set.empty)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // stageId -> jobId: AQE materializes independent query stages as
    // concurrent jobs, so attribute stages by the job's declared stageIds
    // rather than by recency (round-15 ADVICE).
    val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (collecting) {
          val sids = js.stageIds.toSet
          jobs.put(js.jobId, JobRec(js.jobId, js.time, stageIds = sids))
          sids.foreach(sid => stageOwner.put(sid, js.jobId))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (collecting) Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val sid = sc.stageInfo.stageId
          Option(stageOwner.get(sid)).flatMap(j => Option(jobs.get(j)))
            .foreach { j => j.stages += 1; j.tasks += sc.stageInfo.numTasks }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm: codegen + JIT on the tiny sibling SF
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
      jobs.clear(); stageOwner.clear(); collecting = true
      // Wall bounds in epoch-ms so they compare with the listener's
      // timestamps; head/tail driver time (planning before the first job,
      // result handling after the last) then lands in gap_s (round-15
      // ADVICE: nanoTime t0 made planning-heavy queries report gap_s ~ 0).
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val totalS = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      // Drain the async listener bus BEFORE turning collection off, else
      // queued JobEnd events arriving during the sleep are dropped and
      // their jobs silently excluded (round-15 ADVICE).
      org.apache.spark.GraftBusShim.waitUntilListenerBusEmpty(spark.sparkContext)
      collecting = false
      val js = jobs.values().toArray(Array.empty[JobRec]).sortBy(_.start)
      val done = js.filter(_.end > 0)
      // job time is the UNION of job intervals inside the wall: AQE runs
      // independent query stages as concurrent jobs, so summing their
      // durations can exceed the wall. gap is the rest of the wall,
      // including before the first job and after the last (driver work:
      // planning, AQE, collect), so job_s + gap_s = wall.
      var jobMs = 0L
      var prevEnd = w0
      done.foreach { j =>
        val from = math.max(j.start, prevEnd)
        val to = math.min(j.end, w1)
        if (to > from) jobMs += to - from
        prevEnd = math.max(prevEnd, j.end)
      }
      val gapMs = (w1 - w0) - jobMs
      val top = done.sortBy(j => -(j.end - j.start)).take(5)
        .map(j => f"job${j.id}%d:${(j.end - j.start) / 1e3}%.2fs/${j.stages}%dst/${j.tasks}%dtk")
        .mkString(" ")
      println(f"PROFILE $name%-28s total=${totalS}%6.2fs jobs=${done.length}%3d " +
        f"stages=${done.map(_.stages).sum}%4d tasks=${done.map(_.tasks).sum}%5d " +
        f"job_s=${jobMs / 1e3}%6.2f gap_s=${gapMs / 1e3}%6.2f | $top")
    }
    spark.stop()
  }
}
