package org.apache.spark.sql

/** Two bridges to Spark internals, used only by graft.operators.Lineage.
  *
  * [[free]] drops an RDD's blocks the way `RDD.unpersist` does, minus
  * the warning `unpersist` logs for a locally checkpointed RDD ("its
  * lineage has been truncated and cannot be recomputed"): a driver twin
  * frees its counted cut only after collecting it, when nothing reads
  * that RDD again.
  *
  * [[resetStats]] is the `private[sql]` one:
  *
  * `Dataset.checkpoint()`/`localCheckpoint()` deliberately PRESERVE the
  * optimized plan's statistics on the resulting `LogicalRDD`
  * (SPARK-34295's originStats) — sensible for one cut, catastrophic
  * for iterative self-joins: Catalyst's join size estimate MULTIPLIES
  * `sizeInBytes`, so a loop that cuts a plan referencing its previous
  * frame f times per round carries sizeInBytes ~ prev^f ACROSS cuts —
  * the BigInt's bit-length grows geometrically, and by round 3 of a
  * Boruvka jump loop the driver spends MINUTES in
  * `BigInteger.multiplyToomCook3` sizing 160-million-bit "estimates"
  * for 342-row frames.
  *
  * The original r11 fix rebuilt the frame with NO stats, which swings
  * to the opposite failure (r16): a stat-less LogicalRDD estimates at
  * `spark.sql.defaultSizeInBytes` = Long.Max, so the planner NEVER
  * broadcast-joins a checkpointed frame — every per-round join of a
  * node-sized comp/frontier/weight frame against the edge frame planned
  * as a full two-sided exchange, and only AQE's runtime conversion
  * (after the exchanges already ran as jobs) repaired it. Iterative
  * operators pay that in driver round-trips, the dominant cost of the
  * loop-bound catalog queries.
  *
  * r16: rebuild on the same materialized RDD but attach the MEASURED
  * storage size of the checkpointed blocks (driver-side metadata from
  * `getRDDStorageInfo` — no job) as the new frame's origin statistics.
  * The estimate is exact for the frame the loop actually holds, so
  * plan-time broadcasts fire exactly when the frame genuinely fits
  * (deserialized in-memory size, a conservative overestimate of wire
  * size) and never when it does not — scale-correct by construction.
  * Falls back to no stats when the blocks are not visible in storage
  * (reliable-checkpoint mode, late registration).
  */
object GraftLineageShim {

  /** Removes `rdd`'s blocks and forgets it as persisted, without
    * blocking and without `unpersist`'s local-checkpoint warning. */
  def free(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Same rows, same truncated lineage, measured (or default) stats. */
  def resetStats(df: Dataset[Row]): Dataset[Row] = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cdf.sparkSession
    val measured: Option[BigInt] = cdf.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        try spark.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => BigInt(i.memSize + i.diskSize))
          .filter(_ > 0)
        catch { case _: Exception => None }
      case _ => None
    }
    val fresh = spark.internalCreateDataFrame(cdf.queryExecution.toRdd, cdf.schema)
    (measured, fresh.queryExecution.analyzed) match {
      case (Some(sz), lr: execution.LogicalRDD) =>
        classic.Dataset.ofRows(spark, execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(spark,
          Some(catalyst.plans.logical.Statistics(sizeInBytes = sz)), None))
      case _ => fresh
    }
  }
}
