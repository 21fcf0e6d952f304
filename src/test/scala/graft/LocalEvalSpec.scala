package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.LocalGate
import graft.plans.LocalEval

/** Driver-side evaluation of small plans: for every operator LocalEval
  * supports, its local answer equals Spark's distributed answer on
  * seeded inputs, with the same schema and nullability; anything it does
  * not support, or inputs over its gates, come back unchanged. */
class LocalEvalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val aSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("g", StringType),
    StructField("x", DoubleType), StructField("d", DecimalType(10, 2)),
    StructField("s", StringType), StructField("id", LongType, nullable = false)))
  private val bSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("y", LongType),
    StructField("t", StringType, nullable = false)))

  /** Seeded tables: null keys; doubles with NaN, -0.0 and infinity, and
    * otherwise exact binary fractions, so sums do not depend on their
    * order; decimals; strings whose UTF-8 and UTF-16 orders disagree;
    * and duplicated rows. */
  private def tables(seed: Long, n: Int): (Seq[Row], Seq[Row]) = {
    val rnd = new scala.util.Random(seed)
    def key: Any = if (rnd.nextInt(8) == 0) null else rnd.nextInt(6)
    def maybe(p: Int)(v: => Any): Any = if (rnd.nextInt(p) == 0) null else v
    val doubles = Array(0.0, -0.0, 1.5, -2.25, 0.5, Double.NaN, Double.PositiveInfinity)
    val strs = Array("a", "b", "\uFFFF", "\uD83D\uDE00", "a,b", "")
    val a = (0 until n).map(i => Row(key, maybe(6)(s"g${rnd.nextInt(3)}"),
      maybe(7)(doubles(rnd.nextInt(doubles.length))),
      maybe(5)(java.math.BigDecimal.valueOf(rnd.nextInt(20000) - 10000L, 2)),
      maybe(6)(strs(rnd.nextInt(strs.length))), i.toLong))
    val b = (0 until n / 2).map(_ =>
      Row(key, rnd.nextInt(4).toLong, strs(rnd.nextInt(strs.length))))
    (a ++ a.take(n / 5), b ++ b.take(2))
  }

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of(rows: _*), schema)

  /** Every supported operator, unordered answers first, then the asks
    * whose row order is defined. */
  private def asks(a: DataFrame, b: DataFrame): (Seq[(String, DataFrame)], Seq[(String, DataFrame)]) = {
    val byG = Window.partitionBy("g")
    val ties = byG.orderBy(col("x").asc_nulls_first)
    val total = byG.orderBy(col("x").asc_nulls_first, col("id"))
    val joins = for (jt <- Seq("inner", "left", "right", "full", "left_semi", "left_anti");
        (what, cond) <- Seq("" -> (a("k") === b("k")),
          ", residual" -> (a("k") === b("k") && (a("id") % 3) =!= b("y")),
          ", two keys" -> (a("k") === b("k") && a("s") === b("t")),
          ", null-safe" -> (a("k") <=> b("k"))))
      yield s"$jt join$what" -> a.join(b, cond, jt)
    val emptyJoins = for (jt <- Seq("inner", "left", "right", "full", "left_anti"))
      yield s"$jt join, empty side" -> a.join(b.filter(col("y") < 0), Seq("k"), jt)
    val unordered = Seq(
      "project + filter" -> a.filter(col("x") > 0 || col("k").isNull)
        .select(col("k"), (col("x") * 2).as("x2"), upper(col("s")).as("u"), (col("d") * 3).as("d3")),
      "generate" -> a.select(col("id"), explode(array(col("x"), col("x") + 1)).as("e")),
      "generate outer" -> a.select(col("id"), explode_outer(split(col("s"), ",")).as("part")),
      "posexplode" -> a.select(col("id"), posexplode(array(col("g"), col("s")))),
      "union" -> a.select(col("k"), col("s")).union(b.select(col("k"), col("t"))),
      "aggregate" -> a.groupBy("g").agg(sum("x"), avg("d"), count(lit(1)), min("s"), max("x"),
        sort_array(collect_set("s")), countDistinct("k"), sum("d")),
      "grouping on doubles" -> a.groupBy("x").agg(count(lit(1)).as("n")),
      "aggregate filter" -> a.groupBy("k").agg(expr("sum(d) FILTER (WHERE x > 0)"),
        count_if(col("s") === "a")),
      "global aggregate" -> a.agg(sum("x"), count("k"), max("s"), avg("d")),
      "global aggregate over no rows" -> a.filter(col("id") < 0).agg(sum("x"), count(lit(1))),
      "expand: two distinct groups" -> a.groupBy("g").agg(countDistinct("k"), countDistinct("s"),
        sum("d")),
      "rollup" -> a.rollup("g", "k").agg(count(lit(1)), sum("d")),
      "distinct" -> a.select("k", "g").distinct(),
      "dedup" -> a.dropDuplicates("id").select("id", "k", "s"),
      "ranks with ties" -> a.select(col("id"), rank().over(ties), dense_rank().over(ties),
        row_number().over(total)),
      "partition aggregates" -> a.select(col("id"), sum("d").over(byG), count(lit(1)).over(byG),
        max("x").over(byG), sum("d").over(ties.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing))),
      "running aggregates" -> a.select(col("id"), sum("d").over(ties),
        sum("d").over(total.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        count("k").over(ties)),
      "top rows per group" -> a.withColumn("rn", row_number().over(total)).filter(col("rn") <= 2),
      "top ranks per group" -> a.withColumn("r", rank().over(ties)).filter(col("r") <= 2)
    ) ++ joins ++ emptyJoins
    val ordered = Seq(
      "sort" -> a.orderBy(col("s").asc_nulls_last, col("x").desc, col("id")),
      "sort + limit" -> a.orderBy(col("x").desc_nulls_last, col("id")).limit(7),
      "sort + offset" -> a.orderBy(col("id").desc).offset(5),
      "aggregate, sorted" -> a.groupBy("k").agg(sum("d").as("t")).orderBy(col("t").desc, col("k")))
    (unordered, ordered)
  }

  private def assertSame(name: String, df: DataFrame, ordered: Boolean): Unit = {
    val answered = LocalEval(df)
    assert(answered.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"$name stayed distributed:\n${df.queryExecution.optimizedPlan}")
    assert(answered.schema == df.schema, name)
    val got = answered.collect().map(_.toString).toSeq
    val want = df.collect().map(_.toString).toSeq
    if (ordered) assert(got == want, name)
    else assert(got.sorted == want.sorted, name)
  }

  test("property: local answers equal distributed answers for every supported operator") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val (ra, rb) = tables(seed, 40 + 20 * seed.toInt)
      val (unordered, ordered) = asks(local(ra, aSchema), local(rb, bSchema))
      unordered.foreach { case (n, df) => assertSame(s"seed $seed: $n", df, ordered = false) }
      ordered.foreach { case (n, df) => assertSame(s"seed $seed: $n", df, ordered = true) }
    }
  }

  /** `a` and `b` written to a directory no earlier ask has read, and
    * read back with their footer schemas (no schema job). */
  private def fresh(seed: Long): (DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-localeval").toString
    val (ra, rb) = tables(seed, 60)
    local(ra, aSchema).write.parquet(s"$dir/a")
    local(rb, bSchema).write.parquet(s"$dir/b")
    (Graft.parquet(spark, s"$dir/a"), Graft.parquet(spark, s"$dir/b"))
  }

  test("file inputs: each distinct narrow input is collected in one job") {
    val (a, b) = fresh(7L)
    val (unordered, ordered) = asks(a, b)
    unordered.foreach { case (n, df) => assertSame(s"parquet: $n", df, ordered = false) }
    ordered.foreach { case (n, df) => assertSame(s"parquet: $n", df, ordered = true) }
    // over files no ask has read: a join of `a` with itself reads one
    // file relation, a join of a and b two; each is collected once, and
    // a rerun, or another filter over the same files, runs no job
    val (a1, _) = fresh(8L)
    def self(k: Int) = a1.as("l").join(a1.as("r"), col("l.k") === col("r.k"))
      .filter(col("l.k") =!= k)
    assert(TestSpark.jobsDuring(LocalEval(self(1)).collect()) == 1)
    assert(TestSpark.jobsDuring(LocalEval(self(1)).collect()) == 0)
    assert(TestSpark.jobsDuring(LocalEval(self(2)).collect()) == 0)
    val (a2, b2) = fresh(9L)
    def both(y: Long) = a2.join(b2.filter(col("y") > y), Seq("k")).groupBy("g").agg(sum("y"))
    assert(TestSpark.jobsDuring(LocalEval(both(0L)).collect()) == 2)
    assert(TestSpark.jobsDuring(LocalEval(both(0L)).collect()) == 0)
    assert(TestSpark.jobsDuring(LocalEval(both(1L)).collect()) == 0)
    assertSame("parquet, from the registry", both(1L), ordered = false)
  }

  test("lower and upper: ASCII and other strings give the distributed plan's rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-localeval-case").toString
    Seq("Alice@Company1.COM", "bob", "", null, "\u0130stanbul", "Stra\u00dfe", "\u03a3\u0391\u03a3",
      "mixed \u00c0b \u03a3\u03c3 Z", "\u01c5", "\uD83D\uDE00 Hi", "\ufb00", " MiXeD ascii 123 ")
      .toDF("s").write.parquet(s"$dir/s")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val (budget, icu) = (spark.conf.get(key), "spark.sql.icu.caseMappings.enabled")
    val icuBefore = spark.conf.getOption(icu)
    try {
      for (icuOn <- Seq("true", "false")) {
        spark.conf.set(icu, icuOn)
        val df = Graft.parquet(spark, s"$dir/s")
        val asks = Seq(
          "project" -> df.select(col("s"), lower(col("s")), upper(col("s")),
            upper(lower(col("s"))), length(lower(col("s")))),
          "filter" -> df.filter(lower(col("s")) === "stra\u00dfe" || upper(col("s")) === "BOB"),
          "grouped" -> df.groupBy(lower(col("s")).as("l")).agg(count(lit(1)).as("n")),
          "sorted" -> df.orderBy(upper(col("s")).asc_nulls_first, col("s")),
          "collated" -> df.select(lower(collate(col("s"), "UTF8_LCASE")).as("l")))
        for ((name, ask) <- asks) {
          val answered = LocalEval(ask)
          assert(answered.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], name)
          val got = answered.collect().map(_.toString).toSeq
          spark.conf.set(key, "-1")
          val want = try LocalEval(ask).collect().map(_.toString).toSeq
            finally spark.conf.set(key, budget)
          if (name == "sorted") assert(got == want, s"icu $icuOn: $name")
          else assert(got.sorted == want.sorted, s"icu $icuOn: $name")
        }
      }
    } finally icuBefore.fold(spark.conf.unset(icu))(spark.conf.set(icu, _))
  }

  test("unsupported plans and inputs over either gate come back unchanged with no job") {
    val (ra, rb) = tables(11L, 50)
    val (a, b) = (local(ra, aSchema), local(rb, bSchema))
    a.createOrReplaceTempView("local_eval_a")
    val unsupported = Seq(
      "repartition" -> a.repartition(3),
      "sample" -> a.sample(0.5, 1L),
      "cross join" -> a.crossJoin(b),
      "non-equi join" -> a.join(b, a("k") < b("k")),
      "lead" -> a.select(lead("x", 1).over(Window.partitionBy("g").orderBy("id"))),
      "sliding frame" -> a.select(sum("d").over(Window.partitionBy("g").orderBy("id")
        .rowsBetween(-1, 1))),
      "nondeterministic" -> a.select(col("id"), rand(1L)),
      "subquery" -> spark.sql(
        "SELECT id FROM local_eval_a WHERE d > (SELECT avg(d) FROM local_eval_a)"),
      "rows over the row gate" -> a.groupBy("g").count())
    for ((name, df) <- unsupported) {
      var out: DataFrame = null
      val threshold = if (name.startsWith("rows")) 5L else LocalGate.DefaultRows
      val jobs = TestSpark.jobsDuring { out = LocalEval(df, threshold) }
      assert(out eq df, name)
      assert(jobs == 0, s"$name launched $jobs jobs")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-localeval-gate").toString
    a.write.parquet(s"$dir/a")
    val scan = spark.read.parquet(s"$dir/a").groupBy("g").agg(sum("d"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "100")
    try {
      var out: DataFrame = null
      assert(TestSpark.jobsDuring { out = LocalEval(scan) } == 0)
      assert(out eq scan, "an input over the byte budget")
    } finally spark.conf.set(key, before)
    // a file's row count is known only once read: its capped collect runs
    var out: DataFrame = null
    assert(TestSpark.jobsDuring { out = LocalEval(scan, threshold = 5) } == 1)
    assert(out eq scan, "a file input over the row gate")
  }

  test("an answer frame, marked analyzed, joins and unions with itself as the distributed frame does") {
    val (ra, _) = tables(21L, 50)
    val a = local(ra, aSchema)
    val plan = a.filter(col("k").isNotNull).groupBy("k", "g").agg(sum("d").as("t"))
    val answered = LocalEval(plan)
    assert(answered.queryExecution.analyzed.analyzed)
    def asks(df: DataFrame): Seq[(String, DataFrame)] = Seq(
      "self-join" -> df.as("l").join(df.as("r"), col("l.k") === col("r.k"))
        .select(col("l.g"), col("r.g"), col("l.t"), col("r.t")),
      "union" -> df.union(df.filter(col("t") > 0)),
      "unionByName" -> df.unionByName(df.select("t", "k", "g")))
    for (((name, got), (_, want)) <- asks(answered).zip(asks(plan))) {
      assert(got.schema == want.schema, name)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq, name)
    }
  }
}
