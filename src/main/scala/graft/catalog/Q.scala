package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a named Spark query over the driver's parquet tables
  * plus (when SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Conventions that make the driver's hash-compare deterministic:
  *  - every output column is explicitly aliased, same name on both sides;
  *  - every query ends in a total ORDER BY;
  *  - doubles that result from arithmetic are round()-ed (2dp for money,
  *    4dp for ratios) on both sides;
  *  - timestamps are rendered as 'yyyy-MM-dd HH:mm:ss' strings on both
  *    sides (truncating semantics match between date_format and strftime);
  *  - integer sums are BIGINT on both sides (DuckDB needs an explicit cast
  *    because its sum(int) returns HUGEINT).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Deterministic scratch root for catalog queries that exercise the
    * on-disk state machinery (VersionedStore / Compaction): keyed by
    * (query, data dir) so concurrent Verify runs over different SFs
    * never collide, and CLEARED on every call so the query is
    * idempotent under the bench's repeated invocations. The VALUES such
    * a query returns derive only from the sf tables — the scratch dir
    * is plumbing, never an input. */
  def scratch(s: SparkSession, dir: String, name: String): String = {
    val key = java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_state/${name}_$key"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) require(fs.delete(p, true), s"scratch: clear $root failed")
    root
  }

  /** Engage the session's configured parallelism for a CPU-heavy per-row
    * stage (r16, guide §1.2 step 1): round-robin repartition to
    * spark.sql.shuffle.partitions, but ONLY when the frame currently has
    * fewer partitions. At production scale a scan or exchange already
    * carries at least that many partitions, so this is a plan no-op
    * there; on a local run over single-row-group parquet (one split per
    * table, whatever maxPartitionBytes says) it un-serializes stages
    * whose cost is per-row compute, not bytes. A plan decision only —
    * every consumer downstream is aggregate/sort-based, so row order
    * never reaches a result. Call it on a frame that is about to be
    * lineage-cut or consumed repeatedly, so the exchange is paid once. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Run `body` with AQE disabled, restoring the session conf after
    * (r16, guide §1.2 step 3): for FIXED-ITERATION loops whose per-round
    * materialization is one global aggregate into a 1-row state frame
    * (the GD family), AQE has no decision to make — no join strategy to
    * revise, no partitions worth coalescing on a 1-row exchange — but
    * each adaptive stage still costs a driver re-plan per iteration.
    * Measured on the bench (SPARK_GRAFT_CONF A/B, sf0.1, local[32]):
    * a_quantile_gd 7.33 -> 4.81 s, a_linreg_gd 2.22 -> 1.31 s,
    * a_leverage 6.94 -> 5.10 s with adaptive off — while the JOIN-loop
    * family regresses badly without AQE (g_temporal_reach 5.27 ->
    * 11.04 s), so the switch is scoped to the aggregate loops only,
    * never set globally. Scale-neutral: a global aggregate's plan is
    * the same at any data size. Only the loop's EAGER cuts run inside
    * the scope; the returned lazy frame plans under the session
    * default at action time. */
  def withAqeOff[T](s: SparkSession)(body: => T): T = {
    val k = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(k, "true")
    s.conf.set(k, "false")
    try body finally s.conf.set(k, prev)
  }

  /** A frame pinned once per (session, dataset `dir`, `key`) in the
    * session registry ([[graft.plans.SessionRegistry]]), fingerprinted by
    * a driver listing of the `tables` it derives from: a rewritten source
    * table rebuilds it and unpersists the stale one, and the context's
    * stop drops it. `build` returns the frames to pin, persisted. */
  def pinned[V <: AnyRef](s: SparkSession, dir: String, tables: Seq[String], key: Any)(
      frames: V => Seq[DataFrame])(build: => V): V =
    graft.plans.SessionRegistry.shared.pin(s.sparkContext, (dir, key),
      graft.plans.SessionRegistry.listing(s, tables.map(t => s"$dir/$t.parquet")))(
      (v: V) => frames(v).foreach(_.unpersist(blocking = false)))(build)

  /** Read one of the driver-generated tables (see TESTDATA.md).
    *
    * `events.ts` has shipped under two physical types across driver data
    * generations, so normalize it to a session-zoned TimestampType here and
    * let every catalog query assume that one shape:
    *  - INT64 TIMESTAMP(NANOS): Spark's parquet reader rejects it outright
    *    (PARQUET_TYPE_ILLEGAL); read it as a long via the legacy nanosAsLong
    *    conf and convert with exact integer arithmetic (`div`, not `/` — ns
    *    since epoch exceeds the 2^53 double-exact range);
    *  - TIMESTAMP(MICROS) without isAdjustedToUTC: arrives as
    *    TIMESTAMP_NTZ; cast to TimestampType (the UTC session zone keeps the
    *    wall clock identical to DuckDB's naive rendering of the same file).
    *
    * Every catalog query reads through here, so this is also where the
    * session gets the native functions and strategy ([[graft.Graft.install]]).
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.Graft.install(s)
    val df = {
      if (name == "events")
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.Graft.parquet(s, s"$dir/$name.parquet")
    }
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
        case _ => df // already TimestampType
      }
    } else df
  }
}
