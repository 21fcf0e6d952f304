package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage truncation for iterative operators, with a cluster-safe mode.
  *
  * Every iterative operator here (GraphAlgos, Components, the pipeline
  * loops) must cut lineage each round or plans grow linearly with the
  * iteration count. `localCheckpoint()` does that by caching blocks on
  * the executors WITH the lineage discarded — fast, but on a real
  * cluster an executor loss then kills the job unrecoverably, because
  * the lost blocks can no longer be recomputed (round-7 verdict #3).
  *
  * The knob is Spark's own checkpoint directory: when the deployment
  * sets one (`sparkContext.setCheckpointDir(...)` /
  * `spark.checkpoint.dir` — as any production cluster job should),
  * [[cut]] uses reliable `checkpoint()`, which persists the blocks to
  * that (fault-tolerant) storage and survives executor loss. With no
  * dir configured — local runs, tests — it falls back to
  * `localCheckpoint()`. Results are identical either way; only
  * durability and write cost differ. See SCALE.md for when to flip it.
  */
object Lineage {

  /** Cut `df`'s lineage: reliable `checkpoint()` under the configured
    * checkpoint dir when one is set, else `localCheckpoint()`. Both
    * eager.
    *
    * Reliable mode persists the frame around the checkpoint call:
    * `Dataset.checkpoint()` runs the materializing action and THEN a
    * separate write job over the same RDD, so an unpersisted plan is
    * computed twice per cut (round-8 advice, medium). With the
    * transient MEMORY_AND_DISK persist the write job reads the cached
    * blocks instead of re-running the round's joins; the cache is
    * dropped as soon as the durable copy exists, so steady-state memory
    * holds at most one round's frame. */
  def cut(df: DataFrame): DataFrame = {
    val cp =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint()
        finally df.unpersist(blocking = false)
      } else df.localCheckpoint()
    // Checkpoints carry the optimized plan's STATISTICS onto the new
    // LogicalRDD (SPARK-34295) — under iterative self-joins the
    // carried sizeInBytes compounds geometrically across rounds until
    // the driver spends minutes multiplying million-bit BigInts (the
    // round-11 Boruvka discovery: 160M-bit "estimates" for 342-row
    // frames). Rebuild on the same materialized RDD with default
    // stats; AQE measures real sizes at stage boundaries anyway.
    org.apache.spark.sql.GraftLineageShim.resetStats(cp)
  }

  /** [[cut]] that also returns the cut frame's row count. In
    * `localCheckpoint` mode the count IS the cut's materializing job: a
    * lazy local checkpoint, counted, caches its blocks as the count runs
    * — one job, where `cut` followed by a count costs two. Reliable mode
    * keeps the checkpoint and counts the durable copy: cut + count. */
  def cutCounted(df: DataFrame): (DataFrame, Long) =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val cp = cut(df)
      (cp, cp.rdd.count())
    } else {
      // the count job computes the checkpointed RDD, and the checkpoint
      // completes when that job ends
      val cp = df.localCheckpoint(eager = false)
      val n = cp.rdd.count()
      (org.apache.spark.sql.GraftLineageShim.resetStats(cp), n)
    }

  /** Frees the blocks a [[cut]] of `df` holds in local-checkpoint mode
    * (its persisted RDD, found through the lineage of `df`'s scan), once
    * nothing reads `df` again, with no warning that its truncated
    * lineage cannot be recomputed: nothing will ask it to be. Reliable
    * checkpoints keep their files; [[RoundGc]] owns those. */
  def release(df: DataFrame): Unit = {
    def free(rdd: org.apache.spark.rdd.RDD[_]): Unit =
      if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        org.apache.spark.sql.GraftLineageShim.free(rdd)
      else rdd.dependencies.foreach(d => free(d.rdd))
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => free(r.rdd)
      case _ =>
    }
  }

  /** `.cutLineage()` as a chainable postfix, mirroring the
    * `.localCheckpoint()` call sites it replaces. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = cut(df)
  }

  /** [[cut]] plus a conditional parallelism spread (r16, guide §1.2
    * step 1): when the MATERIALIZED frame carries fewer partitions than
    * the session's shuffle parallelism — AQE coalesces exchanges on
    * bytes, which under-counts downstream work that fans out per row
    * (wedge/pair expansions, big-decimal expression trees) — repartition
    * it back up. The spread is decided on the real post-AQE partition
    * count, so at production scale (partitions already >= the target)
    * it is a plan no-op; row order never reaches results (consumers are
    * aggregates/joins). */
  def spreadCut(df: DataFrame): DataFrame = {
    val cutDf = cut(df)
    val target = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    // Materialize the spread layout with a second cut: a bare
    // `.repartition` on top of the cut would re-run its exchange on
    // EVERY consumer (measured 4x regression on the per-hop BFS loops,
    // which scan the frame once per round). The second cut is one extra
    // parallel pass over a frame that just proved it is small.
    if (cutDf.rdd.getNumPartitions < target) cut(cutDf.repartition(target))
    else cutDf
  }

  /** Per-loop checkpoint garbage collection for reliable mode.
    *
    * Reliable `checkpoint()` leaves a durable dataset copy on the
    * checkpoint store per [[cut]], and Spark only reclaims those with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` — and then
    * only after the RDD is JVM-garbage-collected, which an iterative
    * driver loop holding frame references defers indefinitely. On deep
    * iterations (PageRank, BFS) and long-running streams that means
    * unbounded checkpoint-store growth (round-8 advice, medium).
    *
    * This is the periodic-checkpointer pattern: a loop constructs one
    * `RoundGc` before iterating and calls [[endRound]] at the bottom of
    * each round, AFTER the round's cuts have materialized (cuts are
    * eager). `endRound` deletes the files of the round BEFORE the one
    * that just finished — by then provably dead for the loops here,
    * whose round-r frames are last read while materializing round r+1
    * (the returned final frame is never deleted: it belongs to the last
    * or second-to-last generation, and only generations two back die).
    * Files are discovered by diffing the checkpoint directory's
    * `rdd-*` entries between rounds, so no Spark-internal API is
    * touched; the diff assumes the driver runs ONE such loop at a time
    * (concurrent checkpointing loops in one session would interleave
    * their directory entries — hold them on separate sessions).
    * No-ops entirely in localCheckpoint mode, where Spark's reference
    * tracking already unpersists executor blocks. */
  final class RoundGc(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val dir: Option[Path] = sc.getCheckpointDir.map(new Path(_))
    private val fs = dir.map(_.getFileSystem(sc.hadoopConfiguration))
    private var seen: Set[String] = listNow()
    private var prevGen: Set[String] = Set.empty

    private def listNow(): Set[String] = (for (d <- dir; f <- fs) yield {
      if (f.exists(d)) f.listStatus(d).map(_.getPath.toString).toSet
      else Set.empty[String]
    }).getOrElse(Set.empty)

    /** Delete the previous round's checkpoint files; call at the bottom
      * of each loop round, after the round's cuts are materialized. */
    def endRound(): Unit = if (dir.isDefined) {
      val now = listNow()
      val curGen = now -- seen
      for (f <- fs; p <- prevGen) f.delete(new Path(p), true)
      seen = now -- prevGen // dir contents after the deletions above
      prevGen = curGen
    }
  }
}
