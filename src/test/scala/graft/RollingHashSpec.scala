package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The native RollingHash expression: the O(n) rolling recurrence must
  * equal the direct per-window Horner definition, survive codegen, and
  * handle short/null input. */
class RollingHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Direct O(n*k) definition in pure SQL: one aggregate per window. */
  private def declarative(k: Int) =
    expr(s"""transform(sequence(1, greatest(length(s) - $k + 1, 0)),
             i -> aggregate(
                    transform(sequence(i, i + $k - 1),
                      j -> CAST(ascii(substring(s, j, 1)) AS BIGINT)),
                    0L, (acc, c) -> (acc * 257 + c) % 1000000007))""")

  test("rolling recurrence matches the direct Horner definition on real docs") {
    Graft.install(spark)
    val docs = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(regexp_replace(lower(col("text")), "[^\\x00-\\x7f]", "").as("s"))
    val mismatches = docs
      .withColumn("native", expr("rolling_hash(s, 8)"))
      .withColumn("direct", declarative(8))
      .filter(not(col("native") <=> col("direct")))
      .count()
    assert(mismatches == 0)
  }

  test("short, empty and null inputs") {
    Graft.install(spark)
    val got = Seq(("abcdefgh", 1), ("abc", 2), ("", 3), (null, 4))
      .toDF("s", "id")
      .select(col("id"), expr("rolling_hash(s, 8)").as("h"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1)).map(_.toString)).toMap
    // exactly one window for an 8-char string
    assert(got(1).get.startsWith("ArraySeq(") && !got(1).get.contains(","))
    assert(got(2) == Some("ArraySeq()")) // shorter than k -> empty
    assert(got(3) == Some("ArraySeq()"))
    assert(got(4).isEmpty)               // null in -> null out
  }

  test("k widens from any integer literal type; non-constant k fails clearly") {
    Graft.install(spark)
    // BIGINT / SMALLINT literals fold and widen to Int
    val viaLong = spark.sql(
      "SELECT rolling_hash('abcdefgh', CAST(8 AS BIGINT)) AS h").collect()(0).getSeq[Long](0)
    val viaInt = spark.sql(
      "SELECT rolling_hash('abcdefgh', 8) AS h").collect()(0).getSeq[Long](0)
    assert(viaLong == viaInt && viaLong.length == 1)
    // a column reference is rejected at analysis with the real message,
    // not an opaque ClassCastException
    val e = intercept[Exception] {
      spark.sql("SELECT rolling_hash(s, n) FROM VALUES ('ab', 2) AS v(s, n)").collect()
    }
    assert(e.getMessage.contains("constant"), s"got: ${e.getMessage}")
    // out-of-range and fractional k likewise
    val e2 = intercept[Exception] {
      spark.sql("SELECT rolling_hash('ab', CAST(4294967296 AS BIGINT))").collect()
    }
    assert(e2.getMessage.contains("Int range"), s"got: ${e2.getMessage}")
  }

  test("survives wholestage codegen in an aggregation pipeline") {
    Graft.install(spark)
    val n = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select(regexp_replace(lower(col("text")), "[^\\x00-\\x7f]", "").as("s"))
      .select(explode(expr("rolling_hash(s, 8)")).as("h"))
      .groupBy("h").count().count()
    assert(n > 0)
  }

  /** The x_cdc_chunks cut rule over an ASCII string: window-end
    * positions of windows whose hash % 64 == 0 (strictly inside), plus
    * the final doc end. */
  private def cdcCuts = expr(
    """concat(
         CASE WHEN size(hs) >= 1
           THEN filter(transform(sequence(1, size(hs)),
                  i -> IF(element_at(hs, i) % 64 = 0
                          AND i + 7 < length(s), CAST(i + 7 AS BIGINT), NULL)),
                x -> x IS NOT NULL)
           ELSE CAST(array() AS array<bigint>) END,
         array(CAST(length(s) AS BIGINT)))""")

  test("CDC boundaries resynchronize after a prefix edit (the contract " +
    "fixed-size chunking cannot meet)") {
    Graft.install(spark)
    // 40 real docs; perturb each by PREPENDING one char — every
    // fixed-offset chunk would change, but content-defined cuts must
    // realign: tail cuts (expressed as distance from doc END) may lose
    // alignment only near the edit, never past the first shared cut.
    val docs = graft.catalog.Q.t(spark, "/root/testdata/sf0.001", "documents")
      .limit(40)
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^\\x00-\\x7f]", "").as("s"))
    def cutsFromEnd(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("hs", expr("rolling_hash(s, 8)"))
      .withColumn("cuts", cdcCuts)
      .select(col("doc_id"),
        expr("transform(cuts, c -> length(s) - c)").as("from_end"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toSet).toMap
    val base = cutsFromEnd(docs)
    val edited = cutsFromEnd(docs.withColumn("s", concat(lit("z"), col("s"))))
    var resynced = 0
    for ((id, b) <- base) {
      val e = edited(id)
      // every original cut except possibly those within one expected
      // chunk length (~64+8 chars) of the edit survives the edit
      val deep = b.filter(_ < b.max - 72)
      assert(deep.subsetOf(e),
        s"doc $id lost deep CDC cuts after a 1-char prefix edit: ${deep -- e}")
      if (deep.nonEmpty) resynced += 1
    }
    assert(resynced > 0, "fixture produced no deep cuts to check")
  }
}
