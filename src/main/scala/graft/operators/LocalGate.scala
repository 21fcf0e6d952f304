package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** The one size gate in front of every driver twin.
  *
  * An iterative distributed operator costs a fixed number of Spark jobs
  * per round, which dominates wall-clock when the graph is small — and
  * aggregated ENTITY graphs (nations, owners, companies) stay small no
  * matter how large the fact data deriving them grows. [[Components]],
  * [[Scc]], [[Matching]], and [[GraphAlgos]]' PageRank, BFS and weighted
  * shortest paths therefore each keep a driver twin: the same rounds
  * over a collected edge set, row-identical to the distributed loop
  * (PageRank up to the order of its floating-point sums). Every one of
  * them decides the same way: cut the frame its distributed loop starts
  * from anyway, count it, and compare the count with the per-call
  * `localThreshold` (default [[DefaultRows]]; 0 disables the twin).
  * Above the gate the distributed loop runs unchanged after that one
  * count job.
  */
object LocalGate {

  /** Default `localThreshold` of every twin: rows of the cut frame. */
  val DefaultRows: Long = 1L << 20

  /** True when the driver twin should run: the gate is on
    * (`threshold > 0`), the operator's own precondition holds, and the
    * cut `frame` measures at or under `threshold` rows. The count is one
    * job over the materialized partitions (`Dataset.count` would plan an
    * aggregate exchange: two jobs under AQE), and a disabled gate or a
    * failed precondition runs none. */
  def admits(frame: DataFrame, threshold: Long, eligible: Boolean = true): Boolean =
    threshold > 0 && eligible && frame.rdd.count() <= threshold

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
