package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.plans.LocalEval

/** The one size gate in front of every driver twin.
  *
  * An iterative distributed operator costs a fixed number of Spark jobs
  * per round, which dominates wall-clock when the graph is small — and
  * aggregated ENTITY graphs (nations, owners, companies) stay small no
  * matter how large the fact data deriving them grows. [[Components]],
  * [[Scc]], [[Matching]], and [[GraphAlgos]]' PageRank, BFS, weighted
  * shortest paths, HyperBall registers and deterministic walks
  * therefore each keep a driver twin: the same rounds over a collected
  * edge set, row-identical to the distributed loop (PageRank up to the
  * order of its floating-point sums). Every one of them decides the
  * same way, through [[cut]], against the per-call `localThreshold`
  * (default [[DefaultRows]]; 0 disables the twin):
  *  - the frame its distributed loop starts from is first offered to
  *    [[graft.plans.LocalEval]]: when that frame's plan evaluates on the
  *    driver and its narrow inputs fit the broadcast byte budget, the
  *    twin gets it as a local relation from at most one narrow job per
  *    input (none for a file the session registry already holds), and
  *    the shuffles below the cut never run;
  *  - otherwise the frame is cut as before, counted in the cut's own
  *    job; at or under the threshold it is collected into a local
  *    relation and the cut's blocks are released at once;
  *  - above the threshold the distributed loop runs on the cut frame.
  * A twin therefore always reads its cut frame as a local relation,
  * whose collect launches no job. */
object LocalGate {

  /** Default `localThreshold` of every twin: rows of the cut frame. */
  val DefaultRows: Long = 1L << 20

  /** Cut `frame` (the distributed loop's starting frame) and decide the
    * gate: `(cut frame, twin admitted)`. The twin is admitted when the
    * gate is on (`threshold > 0`), the operator's own precondition
    * holds, and the cut frame measures at or under `threshold` rows;
    * an admitted cut frame is a local relation. [[graft.plans.LocalEval]]
    * answers small plans with at most one job per narrow input, and none
    * for files the session registry holds. Otherwise the
    * count comes from the cut's materializing job
    * ([[Lineage.cutCounted]]; one count job more under a reliable
    * checkpoint dir), and an admitted cut is collected in one job and
    * released. A disabled gate or a failed precondition counts
    * nothing. */
  def cut(frame: DataFrame, threshold: Long, eligible: Boolean = true): (DataFrame, Boolean) =
    if (threshold > 0 && eligible) {
      val local = LocalEval(frame, threshold)
      if (LocalEval.localRows(local).exists(_ <= threshold)) (local, true)
      else {
        val (cp, rows) = Lineage.cutCounted(frame)
        if (rows <= threshold) {
          val collected = LocalEval.collected(cp)
          Lineage.release(cp)
          (collected, true)
        } else (cp, false)
      }
    } else (Lineage.cut(frame), false)

  /** Id types whose driver-side values are equal exactly when Spark
    * joins and groups them as equal: integral types, UTF8_BINARY
    * strings, dates and timestamps. Floating ids (Spark normalizes -0.0
    * and NaN), binary, complex types and other collations keep the
    * distributed path. */
  def hashableId(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case s: StringType => s.collationId == StringType.collationId
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Id types whose driver-side `toString`, UTF-8 encoded, is the byte
    * string of Spark's `CAST(id AS STRING)` — what the twins that hash
    * ids with md5 (HyperBall registers, deterministic walks) need on top
    * of [[hashableId]]: integral types and UTF8_BINARY strings. Dates
    * and timestamps cast through the session time zone, so they keep
    * the distributed path. */
  def stringableId(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** One-row local frame holding `value` cast to `dt` as column `node`.
    * The optimizer folds projections of a local relation, so collecting
    * it, or a cast of it, launches no Spark job. */
  def literalNode(spark: SparkSession, value: Any, dt: DataType): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(0)),
        StructType(Seq(StructField("one", IntegerType))))
      .select(lit(value).cast(dt).as("node"))

  /** The values of a one-column seed frame, deduplicated on the driver
    * (Spark's `distinct` would be a job of its own; on a
    * [[literalNode]] seed this collect runs none). */
  def seeds(frame: DataFrame): Seq[Any] = frame.collect().map(_.get(0)).distinct.toSeq

  /** Minimum non-null value in Spark's ordering of `dt` — the order the
    * SQL `min` aggregate uses (UTF-8 byte order for strings, not
    * `String.compareTo`); None when every value is null. */
  def sparkMin(values: Iterable[Any], dt: DataType): Option[Any] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    values.iterator.filter(_ != null).minByOption(toCatalyst)(TypeUtils.getInterpretedOrdering(dt))
  }
}
