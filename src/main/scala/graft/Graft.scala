package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._
import org.apache.spark.sql.graft.SqlShim

import graft.plans.AsOfJoinStrategy

/** How a graft session is set up: the one local session the mains run on,
  * the one idempotent install of the native SQL functions, the as-of
  * join planner strategy and the local-sort optimizer rule, and the one
  * way it reads a parquet path. */
object Graft {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every core of the host. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main runs on: `local[cpus]` with one shuffle
    * partition per worker, UTC, no UI, AQE on and WARN logging. `conf`
    * entries are applied last, over these defaults. */
  def session(conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries INT64 TIMESTAMP(NANOS); see graft.catalog.Q.t
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression)
      : SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The native SQL functions, the single list both [[install]] and
    * [[graft.plans.GraftExtensions]] register. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("char_ngrams", classOf[CharNGrams]) { exprs =>
      require(exprs.length == 2, "char_ngrams(str, n) takes two arguments")
      val n = exprs(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => other.eval().asInstanceOf[Int]
      }
      CharNGrams(exprs.head, n)
    },
    fn("dot_product", classOf[DotProduct]) { exprs =>
      require(exprs.length == 2, "dot_product(a, b) takes two arguments")
      DotProduct(exprs.head, exprs(1))
    },
    fn("gk_quantile", classOf[GkQuantileAgg]) { exprs =>
      require(exprs.length == 2, "gk_quantile(x, eps_denom) takes two arguments")
      GkQuantileAgg(exprs(0), exprs(1))
    },
    fn("mg_topk", classOf[MisraGriesAgg]) { exprs =>
      require(exprs.length == 2, "mg_topk(item, k) takes two arguments")
      MisraGriesAgg(exprs(0), exprs(1))
    },
    // the analyzer wraps a raw AggregateFunction in an AggregateExpression
    fn("simhash_agg", classOf[SimHashAgg]) { exprs =>
      require(exprs.length == 1, "simhash_agg(md5hex) takes one argument")
      SimHashAgg(exprs.head)
    },
    fn("multi_match", classOf[MultiMatch])(MultiMatch.build),
    fn("multi_replace", classOf[MultiReplace])(MultiReplace.build),
    fn("rolling_hash", classOf[RollingHash])(RollingHash.build),
    fn("suffix_distinct", classOf[SuffixDistinct])(SuffixDistinct.build),
    fn("suffix_lcs", classOf[SuffixLcs])(SuffixLcs.build),
    fn("suffix_spans", classOf[SuffixSpans])(SuffixSpans.build))

  /** Give `spark` every native function and [[AsOfJoinStrategy]], each
    * only when the session lacks it. A session launched with
    * [[graft.plans.GraftExtensions]] already has both, so this is a
    * few lookups there and on every repeat call, and never replaces (or
    * warns about) an existing registration. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      functions.foreach { case (id, info, build) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
      }
    }
    val exp = spark.experimental
    exp.synchronized {
      if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
        exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
    }
  }

  /** `path` read as parquet with the schema `spark.read.parquet(path)`
    * infers, taken from one data file's footer on the driver
    * ([[SqlShim.parquetFooterSchema]]), so the read launches no
    * schema-inference job (Spark runs that footer read as a job even
    * over one file). A path with no data file, or a session that merges
    * parquet schemas, reads as `spark.read.parquet` does. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquetIfAny(spark, path).getOrElse(spark.read.parquet(path))

  /** [[parquet]] of `path` when a data file lies under it, else None. */
  def parquetIfAny(spark: SparkSession, path: String): Option[DataFrame] =
    SqlShim.parquetFooterSchema(spark, path).map { schema =>
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) spark.read.parquet(path)
      else spark.read.schema(schema).parquet(path)
    }
}
