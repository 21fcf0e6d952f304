package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage-layout operators: how a 100 TB table gets WRITTEN decides
  * what every later scan pays. Parquet prunes row groups by per-column
  * min/max stats, but stats only help if the layout clusters each
  * filter column — and a plain sort clusters exactly one. Z-ordering
  * (Morton interleave of the filter columns' bits) gives every
  * interleaved column locality at once: a range predicate on ANY of
  * them hits a bounded band of the code space, so most files fail the
  * min/max test without being read.
  *
  * Reference scope: the reference pipeline rewrites its state tables
  * wholesale per run (loaders write full snapshots); at cluster scale
  * those rewrites are exactly where layout is decided, so this is the
  * missing "how should the sink write" half of the S10-S15 sink family.
  */
object Layout {

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of x lands at position 2i,
    * bit i of y at 2i+1. Pure integer Column arithmetic — identical on
    * any engine, usable directly as a sort or range-partition key. */
  def mortonCode(x: Column, y: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Hilbert-curve index of a cell on the 2^bits x 2^bits grid — the
    * locality-tighter alternative to [[mortonCode]]: consecutive codes are
    * always GRID-ADJACENT cells (unit steps, no Morton "seams" where the
    * curve jumps across the grid), so range-partitioning files by this key
    * keeps both columns' per-file min/max even tighter than a z-order
    * write. Classic iterative xy2d (Hilbert 1891; the bit-level form is
    * the standard convert-and-rotate loop): at each bit level i from high
    * to low, the quadrant pair (rx, ry) contributes
    * `4^i * ((3*rx) XOR ry)` to the code, then the coordinate frame is
    * rotated/reflected — reflection is by the FULL grid size 2^bits - 1
    * (not the level size; verified bijective with unit-step adjacency over
    * the whole 256x256 grid in HilbertSpec). Loop-carried (x, y, d) state
    * rules out the unrolled-Column form (the AST doubles per level), so
    * the loop runs INSIDE one `aggregate` HOF over the bit levels — a
    * single codegen'd expression, state in one struct, identical integer
    * arithmetic on any engine. Inputs must already be in [0, 2^bits). */
  def hilbertCode(xCol: String, yCol: String, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val nMinus1 = (1L << bits) - 1
    expr(s"""
      aggregate(
        sequence(${bits - 1}, 0, -1),
        struct(CAST($xCol AS BIGINT) AS x, CAST($yCol AS BIGINT) AS y,
               CAST(0 AS BIGINT) AS d),
        (acc, i) -> struct(
          CASE WHEN (shiftright(acc.y, i) & 1) = 1 THEN acc.x
               WHEN (shiftright(acc.x, i) & 1) = 1 THEN ${nMinus1}L - acc.y
               ELSE acc.y END AS x,
          CASE WHEN (shiftright(acc.y, i) & 1) = 1 THEN acc.y
               WHEN (shiftright(acc.x, i) & 1) = 1 THEN ${nMinus1}L - acc.x
               ELSE acc.x END AS y,
          acc.d + shiftleft(CAST(1 AS BIGINT), 2 * i) *
            CAST(((shiftright(acc.x, i) & 1) * 3) ^ (shiftright(acc.y, i) & 1)
                 AS BIGINT) AS d),
        acc -> acc.d)""")
  }

  /** Write `df` z-ordered on two integer-like columns: rows get the
    * Morton code of (xCol % 2^bits, yCol % 2^bits), are range-
    * partitioned into `nFiles` splits of the code space, sorted within
    * each split, and written. Files then cover disjoint code ranges,
    * so both columns' parquet min/max stats are tight per file and a
    * filter on either column prunes most files.
    *
    * One range-exchange (with its sampling pass) + a local sort —
    * the same cost as any global sort-write, paid once at write time. */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, outDir: String,
      nFiles: Int = 8, bits: Int = 8): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val coded = df.withColumn("__z",
      mortonCode(pmod(col(xCol), lit(1L << bits)).cast("long"),
        pmod(col(yCol), lit(1L << bits)).cast("long"), bits))
    coded
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** [[zorderWrite]] in RAW value space: each column is first mapped to
    * a rank-free linear bucket over its global [min, max] (computed
    * in-plan, 1-row broadcast — no driver fetch, no global window),
    * and the Morton code interleaves the BUCKET ids. Unlike the
    * mod-2^bits variant — which clusters the low bits and leaves every
    * file's raw min/max nearly full-range — range buckets preserve
    * value locality, so after this write a per-file min/max sidecar
    * ([[graft.sources.ZoneMap]]) is tight on BOTH columns at once and
    * an interval predicate on either (or both, conjunctively) prunes
    * most of the file list. This is the measurable claim Delta's
    * ZORDER BY / Iceberg's sort-order rewrite make; evidence: SCALE.md
    * §2b-xiii and `ZOSCALE_r11_*.json`.
    *
    * Nulls bucket to 0 (co-located with the column's minimum — they
    * cannot be range-pruned anyway, the sidecar's null contract covers
    * them). Cost: one aggregate pass for the bounds + one range
    * exchange with its sampling pass + a local sort — the standard
    * price of any clustered rewrite, paid once at write time. */
  def zorderWriteRange(df: DataFrame, xCol: String, yCol: String,
      outDir: String, nFiles: Int = 8, bits: Int = 8): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    require(bits >= 1 && bits <= 20, s"bits must be in [1, 20], got $bits")
    val top = (1L << bits) - 1
    val bounds = df.agg(
      min(col(xCol).cast("double")).as("__xmn"),
      max(col(xCol).cast("double")).as("__xmx"),
      min(col(yCol).cast("double")).as("__ymn"),
      max(col(yCol).cast("double")).as("__ymx"))
    def bucket(c: Column, mn: Column, mx: Column): Column =
      when(c.isNull || mn.isNull || mx <= mn, lit(0L))
        .otherwise(least(lit(top),
          floor((c.cast("double") - mn) / (mx - mn) * (top + 1)).cast("long")))
    val coded = df.crossJoin(broadcast(bounds))
      .withColumn("__z", mortonCode(
        bucket(col(xCol), col("__xmn"), col("__xmx")),
        bucket(col(yCol), col("__ymn"), col("__ymx")), bits))
      .drop("__xmn", "__xmx", "__ymn", "__ymx")
    coded
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }
}
