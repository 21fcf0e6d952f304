package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.SqlShim
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
  *    twin gets its rows from at most one narrow job per input (none for
  *    a file the session registry already holds), and the shuffles
  *    below the cut never run; a cut over whole files alone is kept in
  *    the registry too, so a later twin over the same unchanged files,
  *    from any seed, starts from its rows with no job;
  *  - otherwise the frame is cut as before, counted in the cut's own
  *    job; at or under the threshold it is collected in one job and the
  *    cut's blocks are released at once;
  *  - above the threshold the distributed loop runs on the cut frame.
  * An admitted twin receives rows, not a frame ([[Cut]]): it reads them
  * with the cut's attribute types, derives its output schema from its
  * distributed plan over a relation with no rows ([[Cut.empty]]), and
  * builds its answer once ([[Cut.answer]]), a local relation whose
  * collect launches no job. No Catalyst rule walks the collected rows
  * before that answer. */
object LocalGate {

  /** Default `localThreshold` of every twin: rows of the cut frame. */
  val DefaultRows: Long = 1L << 20

  /** An admitted cut: the cut frame's output attributes and its rows,
    * values as Spark holds them (strings as `UTF8String`, dates and
    * timestamps as numbers). */
  final class Cut(val spark: SparkSession, val output: Seq[Attribute],
      val rows: IndexedSeq[InternalRow]) {

    private def ordinal(name: String): Int = {
      val i = output.indexWhere(_.name == name)
      require(i >= 0, s"no column $name in the cut ${output.map(_.name)}")
      i
    }

    def dataType(name: String): DataType = output(ordinal(name)).dataType

    /** Column `name` of a row. */
    def column(name: String): InternalRow => Any = {
      val i = ordinal(name)
      val dt = output(i).dataType
      r => r.get(i, dt)
    }

    /** Column `name` as Spark's `CAST(name AS DOUBLE)` gives it, null
      * when null: a `java.lang.Double` or null. */
    def double(name: String): InternalRow => Any = {
      val i = ordinal(name)
      val cast = Cast(BoundReference(i, output(i).dataType, output(i).nullable), DoubleType,
        Some(spark.sessionState.conf.sessionLocalTimeZone))
      r => cast.eval(r)
    }

    /** A frame with the cut's output and no rows. The twin's distributed
      * plan built over it has the twin's output schema, nullability
      * included, with no rows to plan over. */
    def empty: DataFrame = SqlShim.ofRows(spark, LocalRelation(output))

    /** The rows as a frame, for a distributed loop that runs past the
      * twin. */
    def frame: DataFrame = LocalEval.relation(spark, output, rows)

    /** The twin's answer: `rows` under `schema`, one local relation. */
    def answer(schema: StructType, rows: IndexedSeq[InternalRow]): DataFrame =
      LocalEval.relation(spark, DataTypeUtils.toAttributes(schema), rows)
  }

  /** Cut `frame` (the distributed loop's starting frame) and decide the
    * gate: `Right(rows)` when the twin is admitted, else `Left(cut
    * frame)`. The twin is admitted when the gate is on (`threshold >
    * 0`), the operator's own precondition holds, and the cut frame
    * measures at or under `threshold` rows. [[graft.plans.LocalEval]]
    * answers small plans with at most one job per narrow input, none
    * for files or cuts the session registry holds. Otherwise the count
    * comes from the cut's materializing job ([[Lineage.cutCounted]]; one
    * count job more under a reliable checkpoint dir), and an admitted
    * cut is collected in one job and released. A disabled gate or a
    * failed precondition counts nothing. */
  def cut(frame: DataFrame, threshold: Long, eligible: Boolean = true): Either[DataFrame, Cut] =
    if (threshold > 0 && eligible) {
      val spark = frame.sparkSession
      val output = frame.queryExecution.analyzed.output
      LocalEval.cut(frame, threshold) match {
        case Some(rows) => Right(new Cut(spark, output, rows))
        case None =>
          val (cp, n) = Lineage.cutCounted(frame)
          if (n > threshold) Left(cp)
          else {
            val rows = LocalEval.collect(spark, cp.queryExecution.optimizedPlan, Int.MaxValue)
            Lineage.release(cp)
            Right(new Cut(spark, output, rows))
          }
      }
    } else Left(Lineage.cut(frame))

  /** A frame with `df`'s schema and no rows. */
  def empty(df: DataFrame): DataFrame =
    SqlShim.ofRows(df.sparkSession, LocalRelation(DataTypeUtils.toAttributes(df.schema)))

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

  /** The values of a one-column seed frame as Spark holds them,
    * deduplicated on the driver (Spark's `distinct` would be a job of
    * its own). A seed frame that folds to a local relation, as a
    * [[literalNode]] does, is read with no job; any other in one. */
  def seeds(frame: DataFrame): Seq[Any] = {
    val dt = frame.schema.head.dataType
    val rows = frame.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming => r.data
      case p => LocalEval.collect(frame.sparkSession, p, Int.MaxValue)
    }
    rows.map(_.get(0, dt)).distinct
  }

  /** Minimum non-null value of Spark-held `values` in Spark's ordering
    * of `dt` — the order the SQL `min` aggregate uses (UTF-8 byte order
    * for strings, not `String.compareTo`); None when every value is
    * null. */
  def sparkMin(values: Iterable[Any], dt: DataType): Option[Any] =
    values.iterator.filter(_ != null).minByOption(identity)(TypeUtils.getInterpretedOrdering(dt))
}
