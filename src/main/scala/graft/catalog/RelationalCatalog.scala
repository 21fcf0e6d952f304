package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Q.t

/** Scans, filters and joins from SURVEY.md §2.1–§2.3, re-expressed on the
  * driver's synthetic tables.
  *
  * Operator coverage (reference file:line cited in SURVEY.md):
  *  S1/S8  scan+project+filter        -> s1_scan_prune
  *  S5/U2  dual-scan union            -> s5_union_scans
  *  P4–P10 predicate shapes           -> p_predicates, p7_time_range
  *  P11    HAVING                     -> p11_having
  *  zone-map sidecar file pruning     -> z1_zonemap_prune
  *  join cardinality/strategy advisor -> j14_join_advisor
  *  J1     FK equi-join               -> j1_orders_per_nation
  *  J2     broadcast dim join         -> j2_broadcast_dim
  *  J3     left outer join            -> j3_left_join_count
  *  J4     semi-join (EXISTS)         -> j4_semi_exists
  *  J5     anti-join (NOT EXISTS)     -> j5_anti_no_big_p
  *  J6     existence validation       -> j6_validate_edges
  *  J7     prioritized match cascade  -> j7_match_cascade
  *  J8     multi-hop join             -> j8_multihop_region
  *  J9     range (as-of style) join   -> j9_range_join
  *  O2     global top-k               -> o2_topk_customers
  *  U1     heterogeneous union        -> u1_union_hetero
  *  U3     EXCEPT                     -> u3_except_keys
  */
object RelationalCatalog {

  val all: Seq[Q] = Seq(
    Q("q1_pricing_summary",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("2000-01-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
             FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
             GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // Exact-decimal twin of q1_pricing_summary (SCALE.md §3): every money
    // aggregate runs in DecimalType end-to-end — sum-of-double rounding
    // drift is impossible by construction, not just bounded by round().
    // The cast choreography is mirrored verbatim in the DuckDB oracle so
    // both engines widen at identical points (2dp inputs -> 4dp first
    // product -> 6dp second product -> exact sum). The product sums are
    // rendered at their full exact scale (4dp / 6dp): they land on .xx5
    // ties, where Spark (HALF_UP) and DuckDB disagree on a final 2dp
    // re-round — the exact value needs no re-round at all.
    Q("q1_pricing_decimal",
      (s, d) => {
        val m2 = "decimal(18,2)"
        val price = col("l_extendedprice").cast(m2)
        val disc = (lit(1) - col("l_discount")).cast(m2)
        val tax1 = (lit(1) + col("l_tax")).cast(m2)
        t(s, d, "lineitem")
          .filter(col("l_shipdate") < lit("2000-01-01"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast(m2)).cast(m2).cast("string").as("sum_qty"),
            sum(price).cast(m2).cast("string").as("sum_base"),
            sum(price * disc).cast("decimal(38,4)").cast("string").as("sum_disc_price"),
            sum((price * disc).cast("decimal(18,4)") * tax1).cast("decimal(38,6)").cast("string").as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_base,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_disc_price,
             CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)) * CAST(1 + l_tax AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_charge,
             count(*) AS count_order
             FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
             GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    Q("s1_scan_prune",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_shipdate") >= lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             WHERE l_quantity >= 45 AND l_shipdate >= TIMESTAMP '1998-01-01'
             ORDER BY l_orderkey, l_linenumber""")),

    Q("s5_union_scans",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_orderkey"), col("o_orderstatus"))
          .unionByName(
            o.filter(col("o_orderstatus") === "F").select(col("o_orderkey"), col("o_orderstatus")))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
             UNION ALL
             SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
             ORDER BY o_orderkey""")),

    Q("p_predicates",
      (s, d) => t(s, d, "customer")
        .filter(col("c_name").contains("1")
          && col("c_acctbal") > 100.0
          && col("c_mktsegment").isin("BUILDING", "MACHINERY")
          && col("c_nationkey").isNotNull)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
             WHERE c_name LIKE '%1%' AND c_acctbal > 100.0
               AND c_mktsegment IN ('BUILDING', 'MACHINERY') AND c_nationkey IS NOT NULL
             ORDER BY c_custkey""")),

    Q("p7_time_range",
      (s, d) => t(s, d, "events")
        .filter(col("ts") >= lit("2024-01-10 00:00:00") && col("ts") < lit("2024-01-20 00:00:00"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
             strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
             FROM events
             WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
             GROUP BY event_type ORDER BY event_type""")),

    Q("z1_zonemap_prune",
      // Zone-map sidecar pruning (graft.sources.ZoneMap): events are
      // written range-clustered on ts (16 files, each covering a slice
      // of the timeline — the layout a time-partitioned ingest
      // naturally produces), a per-file min/max sidecar is built in one
      // distributed pass, and the p7-style window lookup plans ONLY the
      // files whose [min,max] can overlap — the manual twin of a table
      // format's file-statistics skipping; at 100 TB the pruned file
      // LIST (not just pruned row groups) is what keeps a point lookup
      // from scheduling a task per file. The frame still applies the
      // exact predicate (pruning is file-level), and the oracle filters
      // the RAW table — a green row proves prune ∘ filter ≡ filter.
      (s, d) => {
        import graft.sources.ZoneMap
        val root = Q.scratch(s, d, "z1")
        t(s, d, "events")
          .repartitionByRange(16, col("ts"))
          .write.parquet(root)
        ZoneMap.build(s, root, Seq("ts"))
        val pr = ZoneMap.prune(s, root, "ts",
          Some(lit("2024-01-10 00:00:00").cast("timestamp")),
          Some(lit("2024-01-20 00:00:00").cast("timestamp")))
        pr.df
          .filter(col("ts") >= lit("2024-01-10 00:00:00") &&
            col("ts") < lit("2024-01-20 00:00:00"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
             strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
             FROM events
             WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
             GROUP BY event_type ORDER BY event_type""")),

    Q("z2_zorder_prune",
      // Z-order clustered write + CONJUNCTIVE zone-map pruning — the
      // claim ZORDER BY makes, end to end: lineitem is rewritten with
      // Layout.zorderWriteRange (per-column range buckets -> Morton
      // interleave -> one range exchange), so every file is tight on
      // BOTH l_partkey and l_suppkey at once; ZoneMap.pruneAll then
      // keeps only files whose [min,max] can overlap BOTH intervals —
      // the skip rates multiply, where a single-sorted layout prunes
      // on one column and scans everything for the other. The frame
      // still applies the exact predicate (pruning is file-level) and
      // the oracle filters the RAW table: green = prune ∘ filter ≡
      // filter over the clustered rewrite. Files-skipped evidence at
      // scale: SCALE.md §2b-xiii / `ZOSCALE_r11_*.json`.
      (s, d) => {
        import graft.sources.ZoneMap
        val root = Q.scratch(s, d, "z2")
        graft.operators.Layout.zorderWriteRange(
          t(s, d, "lineitem")
            .select("l_partkey", "l_suppkey", "l_quantity", "l_returnflag"),
          "l_partkey", "l_suppkey", root, nFiles = 32, bits = 8)
        ZoneMap.build(s, root, Seq("l_partkey", "l_suppkey"))
        val pr = ZoneMap.pruneAll(s, root, Seq(
          ("l_partkey", Some(lit(50L)), Some(lit(150L))),
          ("l_suppkey", Some(lit(2L)), Some(lit(8L)))))
        pr.df
          .filter(col("l_partkey").between(50, 150) &&
            col("l_suppkey").between(2, 8))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum("l_quantity").cast("long").as("sum_qty"),
            min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
             FROM lineitem
             WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 8
             GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("z3_bloom_prune",
      // Bloom-filter sidecar pruning (graft.sources.BloomMap) — the
      // case the zone map can't touch: orders are round-robin
      // scattered across 64 files, so o_custkey is uniform per file
      // and every file's [min,max] overlaps every probe. The per-file
      // Bloom (one distributed bit_or pass, sparse word rows) keeps
      // only files that might contain one of the probed keys: false
      // positives cost extra files read, never wrong rows, and the
      // exact IN predicate still applies. Oracle filters the RAW
      // table — green = prune ∘ filter ≡ filter on an adversarial
      // (unclustered) layout.
      (s, d) => {
        import graft.sources.BloomMap
        val root = Q.scratch(s, d, "z3")
        t(s, d, "orders").repartition(64).write.parquet(root)
        BloomMap.build(s, root, "o_custkey")
        val pr = BloomMap.prune(s, root, "o_custkey",
          Seq("7", "421", "1349"))
        pr.df
          .filter(col("o_custkey").isin(7L, 421L, 1349L))
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("o_orderkey")).as("n_orders"),
            date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_dt"),
            date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_dt"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS n,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
             strftime(min(o_orderdate), '%Y-%m-%d') AS first_dt,
             strftime(max(o_orderdate), '%Y-%m-%d') AS last_dt
             FROM orders WHERE o_custkey IN (7, 421, 1349)
             GROUP BY o_custkey ORDER BY o_custkey""")),

    Q("p11_having",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 14)
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS n_orders FROM orders
             GROUP BY o_custkey HAVING count(*) >= 14 ORDER BY o_custkey""")),

    Q("j1_orders_per_nation",
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_value"))
        .orderBy("n_name"),
      Some("""SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_value
             FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             GROUP BY n_name ORDER BY n_name""")),

    Q("j2_broadcast_dim",
      // Revenue in integer e4 micro-units, integerized PER ROW before
      // the sum: price * (1 - discount) is a 4-decimal true value, so
      // round(sum(...), 2) sits on the .xx5 boundary for ~3% of groups
      // and a last-ulp summation-order difference flips the cent — the
      // sf1 sweep measured exactly that (35/1000 groups). The per-row
      // double chain is bit-identical on both engines, the floor makes
      // it an integer, and the BIGINT sum is partition-order-proof.
      (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(sum(expr(
          "cast(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) as bigint)"))
          .as("revenue_e4"))
        .orderBy("n_name", "s_name"),
      Some("""SELECT n_name, s_name,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
               AS BIGINT)) AS BIGINT) AS revenue_e4
             FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
             GROUP BY n_name, s_name ORDER BY n_name, s_name""")),

    Q("j3_left_join_count",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spent"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
             FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             GROUP BY c_custkey ORDER BY c_custkey""")),

    Q("j4_semi_exists",
      (s, d) => {
        val big = t(s, d, "orders").filter(col("o_totalprice") > 450000.0)
        t(s, d, "customer")
          .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             WHERE EXISTS (SELECT 1 FROM orders
               WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
             ORDER BY c_custkey""")),

    Q("j5_anti_no_big_p",
      (s, d) => {
        val bigP = t(s, d, "orders")
          .filter(col("o_orderstatus") === "P" && col("o_totalprice") > 300000.0)
        t(s, d, "customer")
          .join(bigP, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             WHERE NOT EXISTS (SELECT 1 FROM orders
               WHERE o_custkey = c_custkey AND o_orderstatus = 'P' AND o_totalprice > 300000.0)
             ORDER BY c_custkey""")),

    Q("j6_validate_edges",
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders").select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(t(s, d, "part").filter(col("p_size") > 40).select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n FROM lineitem
             WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
               AND EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey AND p_size > 40)
             GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("j7_match_cascade",
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "user_id")
        val c1 = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k1"))
        val c2 = t(s, d, "customer").filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey").as("k2"))
        val m1 = ev.join(broadcast(c1), col("user_id") === col("k1"), "inner")
          .select(col("event_id"), lit("primary").as("method"))
        val rest = ev.join(broadcast(c1), col("user_id") === col("k1"), "left_anti")
        val m2 = rest.join(broadcast(c2), col("user_id") === col("k2"), "inner")
          .select(col("event_id"), lit("fallback").as("method"))
        val m3 = rest.join(broadcast(c2), col("user_id") === col("k2"), "left_anti")
          .select(col("event_id"), lit("unmatched").as("method"))
        m1.unionByName(m2).unionByName(m3)
          .groupBy("method").agg(count(lit(1)).as("n")).orderBy("method")
      },
      Some("""SELECT method, count(*) AS n FROM (
               SELECT e.event_id,
                 CASE WHEN c1.c_custkey IS NOT NULL THEN 'primary'
                      WHEN c2.c_custkey IS NOT NULL THEN 'fallback'
                      ELSE 'unmatched' END AS method
               FROM events e
               LEFT JOIN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c1
                 ON e.user_id = c1.c_custkey
               LEFT JOIN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE') c2
                 ON e.user_id = c2.c_custkey)
             GROUP BY method ORDER BY method""")),

    Q("j8_multihop_region",
      (s, d) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"), round(avg("c_acctbal"), 4).as("avg_balance"))
        .orderBy("r_name"),
      Some("""SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_balance
             FROM customer JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             GROUP BY r_name ORDER BY r_name""")),

    Q("j9_range_join",
      (s, d) => {
        val ev = t(s, d, "events")
        val p = ev.filter(col("event_type") === "purchase").alias("p")
        val v = ev.filter(col("event_type").isin("view", "click")).alias("v")
        p.join(v,
            col("p.user_id") === col("v.user_id") &&
              col("v.ts") >= col("p.ts") - expr("INTERVAL 24 HOURS") &&
              col("v.ts") < col("p.ts"),
            "left")
          .groupBy(col("p.event_id").as("event_id"))
          .agg(count(col("v.event_id")).as("prior_touches"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id AS event_id, count(v.event_id) AS prior_touches
             FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             LEFT JOIN (SELECT * FROM events WHERE event_type IN ('view', 'click')) v
               ON p.user_id = v.user_id
              AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts < p.ts
             GROUP BY p.event_id ORDER BY event_id""")),

    Q("j9_optional_range",
      // The OPTIONAL-MATCH-with-range shape of the reference's
      // clicks-before-submission report (DATA_MODEL.md:597-609): the range
      // predicate lives INSIDE the left-join condition, so purchases whose
      // user clicked only OUTSIDE the 1-hour window survive with
      // n_prior_clicks = 0 and an empty id list — the row-preservation
      // semantics the round-1 post-filter variant got wrong.
      (s, d) => {
        val ev = t(s, d, "events")
        val p = ev.filter(col("event_type") === "purchase").alias("p")
        val v = ev.filter(col("event_type") === "click").alias("v")
        p.join(v,
            col("p.user_id") === col("v.user_id") &&
              col("v.ts") < col("p.ts") &&
              col("v.ts") >= col("p.ts") - expr("INTERVAL 1 HOURS"),
            "left")
          .groupBy(col("p.event_id").as("event_id"))
          .agg(count(col("v.event_id")).as("n_prior_clicks"),
            array_join(sort_array(collect_set(col("v.event_id"))), "|").as("prior_click_ids"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id AS event_id, count(v.event_id) AS n_prior_clicks,
             coalesce(string_agg(DISTINCT v.event_id, '|' ORDER BY v.event_id), '') AS prior_click_ids
             FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') v
               ON p.user_id = v.user_id
              AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
             GROUP BY p.event_id ORDER BY event_id""")),

    Q("j14_join_advisor",
      // Pre-join cardinality + strategy advisor (graft.operators
      // .JoinAdvisor): four candidate equi-joins profiled (rows /
      // exact + KMV-estimated distinct / hottest-key frequency), the
      // System-R containment estimate |A||B|/max(dA,dB), exact join
      // cardinality as the honesty column (integer ppm error), and the
      // sketch-driven strategy pick — broadcast (small side within
      // budget), shuffle_salted (hottest key ≥ 8x the mean per-key
      // load: the planted 50%-hot events side), else shuffle. The
      // oracle recomputes profiles, estimates, AND the decision CASE
      // relationally (exact_out via sum(cA*cB) over matched key
      // groups — an independent derivation from the Spark join), so a
      // green row pins the whole advisory surface. The decision is
      // data-driven: orders_customer flips broadcast->shuffle between
      // sf0.01 and sf0.1 IDENTICALLY in both engines. All profile math
      // is aggregation-only, composed in-plan by 1-row cross joins.
      (s, d) => {
        import graft.operators.JoinAdvisor
        val cfg = JoinAdvisor.Config() // broadcastRows 5000, skewFactor 8
        val hot = t(s, d, "events").select(
          when(pmod(col("event_id"), lit(10)) < 5, lit(1L))
            .otherwise(col("user_id")).as("hot_key"))
        JoinAdvisor.advise("events_hot_orders", hot, "hot_key",
            t(s, d, "orders"), "o_custkey", cfg)
          .unionByName(JoinAdvisor.advise("lineitem_orders",
            t(s, d, "lineitem"), "l_orderkey", t(s, d, "orders"), "o_orderkey", cfg))
          .unionByName(JoinAdvisor.advise("orders_customer",
            t(s, d, "orders"), "o_custkey", t(s, d, "customer"), "c_custkey", cfg))
          .unionByName(JoinAdvisor.advise("supplier_nation",
            t(s, d, "supplier"), "s_nationkey", t(s, d, "nation"), "n_nationkey", cfg))
          .orderBy("join_name")
      },
      Some {
        val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
        val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        def side(tag: String, from: String, key: String) =
          s"""pk_$tag AS (SELECT CAST($key AS VARCHAR) AS jk, count(*) AS c
                FROM $from WHERE $key IS NOT NULL GROUP BY 1),
              hh_$tag AS (SELECT $h48 AS h FROM (SELECT md5(jk) AS h FROM pk_$tag)),
              kv_$tag AS (SELECT max(h) AS kth, count(*) AS k_have
                FROM (SELECT h FROM hh_$tag ORDER BY h LIMIT 16)),
              pr_$tag AS (
                SELECT CAST(sum(c) AS BIGINT) AS rows_,
                  CAST(count(*) AS BIGINT) AS dist_exact,
                  CAST(max(c) AS BIGINT) AS max_freq,
                  CAST(CASE WHEN (SELECT k_have FROM kv_$tag) < 16 THEN count(*)
                    ELSE (15 * 281474976710656) // (SELECT kth FROM kv_$tag)
                    END AS BIGINT) AS dist_est
                FROM pk_$tag)"""
        def ex(name: String, ta: String, tb: String) =
          s"""ex_$name AS (SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT)
                AS exact_out
              FROM pk_$ta a JOIN pk_$tb b USING (jk))"""
        def row(name: String, ta: String, tb: String) =
          s"""SELECT '$name' AS join_name, a.rows_ AS rows_a, b.rows_ AS rows_b,
                a.dist_exact AS dist_exact_a, b.dist_exact AS dist_exact_b,
                a.dist_est AS dist_est_a, b.dist_est AS dist_est_b,
                a.max_freq AS max_freq_a, b.max_freq AS max_freq_b,
                CAST((a.rows_ * b.rows_) // greatest(a.dist_est, b.dist_est)
                  AS BIGINT) AS est_out,
                e.exact_out AS exact_out,
                CAST((1000000 * abs((a.rows_ * b.rows_)
                  // greatest(a.dist_est, b.dist_est) - e.exact_out))
                  // e.exact_out AS BIGINT) AS err_ppm,
                CASE WHEN least(a.rows_, b.rows_) <= 5000 THEN 'broadcast'
                     WHEN a.max_freq * a.dist_est >= 8 * a.rows_
                       OR b.max_freq * b.dist_est >= 8 * b.rows_
                       THEN 'shuffle_salted'
                     ELSE 'shuffle' END AS strategy
              FROM pr_$ta a, pr_$tb b, ex_$name e"""
        s"""WITH ${side("li", "lineitem", "l_orderkey")},
             ${side("or1", "orders", "o_orderkey")},
             ${side("oc", "orders", "o_custkey")},
             ${side("cu", "customer", "c_custkey")},
             ${side("eh",
               "(SELECT CASE WHEN event_id % 10 < 5 THEN 1 ELSE user_id END AS hot_key FROM events)",
               "hot_key")},
             ${side("su", "supplier", "s_nationkey")},
             ${side("na", "nation", "n_nationkey")},
             ${ex("events_hot_orders", "eh", "oc")},
             ${ex("lineitem_orders", "li", "or1")},
             ${ex("orders_customer", "oc", "cu")},
             ${ex("supplier_nation", "su", "na")}
           SELECT * FROM (
             ${row("events_hot_orders", "eh", "oc")}
             UNION ALL ${row("lineitem_orders", "li", "or1")}
             UNION ALL ${row("orders_customer", "oc", "cu")}
             UNION ALL ${row("supplier_nation", "su", "na")})
           ORDER BY join_name"""
      }),

    Q("o2_topk_customers",
      (s, d) => t(s, d, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .limit(10)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             ORDER BY c_acctbal DESC, c_custkey LIMIT 10""")),

    Q("o3_skyline_parts",
      // Skyline / Pareto frontier (operators/Skyline): per-brand parts
      // where no brand-mate is both cheaper and at-least-as-large
      // (minimize price, maximize size — negated into the minimize
      // convention). The Spark side is the 2-D WINDOW algebra (dense
      // rank + running strict-x min + same-x min; zero dominance
      // joins); the oracle is the textbook NOT EXISTS dominance
      // definition — independent formulations, so green proves the
      // window algebra IS dominance. The frontier set is unique
      // (ties on both dims are mutually non-dominating).
      (s, d) => graft.operators.Skyline.pareto2d(t(s, d, "part"),
          col("p_brand"), col("p_retailprice"), -col("p_size"))
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("long").as("p_size"))
        .orderBy("p_brand", "p_partkey"),
      Some("""SELECT p_brand, p_partkey, p_retailprice,
               CAST(p_size AS BIGINT) AS p_size
             FROM part r WHERE NOT EXISTS (
               SELECT 1 FROM part s WHERE s.p_brand = r.p_brand
                 AND s.p_retailprice <= r.p_retailprice
                 AND s.p_size >= r.p_size
                 AND (s.p_retailprice < r.p_retailprice
                      OR s.p_size > r.p_size))
             ORDER BY p_brand, p_partkey""")),

    Q("j15_golden_record",
      // Survivorship / golden-record merge (operators/Survivorship —
      // the MDM step AFTER entity resolution): three record sources
      // per customer cluster with different trust, freshness, and
      // coverage — crm (priority 2, gappy: name null on %5 keys, bal
      // null on %4), web self-service (priority 1, fresher, only %3
      // keys, no nation), support desk (priority 3, only %7 keys, no
      // bal). Fields survive INDEPENDENTLY by (priority, recency,
      // -id) over non-null candidates, so one golden row can splice
      // support's name with crm's balance — and every survivor
      // carries provenance. The oracle derives every winner by CASE
      // arithmetic from the base table: a wrong rule order, a null
      // treated as a value, or lost provenance breaks the hash.
      (s, d) => {
        import graft.operators.Survivorship
        import graft.operators.Survivorship.FieldRule
        val c = t(s, d, "customer")
        val k = col("c_custkey")
        val crm = c.select(k.as("k"),
          when(k % 5 === 0, lit(null)).otherwise(col("c_name")).as("nm"),
          when(k % 4 === 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")).as("bal"),
          col("c_nationkey").as("nat"), lit(2).as("p"), lit(100L).as("r"),
          (k * 10).as("rid"), lit("crm").as("src"))
        val web = c.filter(k % 3 === 0).select(k.as("k"),
          lower(col("c_name")).as("nm"),
          (col("c_acctbal") + 10.0).as("bal"),
          lit(null).cast("long").as("nat"), lit(1).as("p"),
          lit(200L).as("r"), (k * 10 + 1).as("rid"), lit("web").as("src"))
        val sup = c.filter(k % 7 === 0).select(k.as("k"),
          upper(col("c_name")).as("nm"),
          lit(null).cast("double").as("bal"),
          col("c_nationkey").as("nat"), lit(3).as("p"), lit(50L).as("r"),
          (k * 10 + 2).as("rid"), lit("support").as("src"))
        Survivorship.golden(crm.unionByName(web).unionByName(sup),
            col("k"),
            Seq(FieldRule("nm", col("nm")), FieldRule("bal", col("bal")),
              FieldRule("nat", col("nat"))),
            col("p"), col("r"), col("rid"), col("src"))
          .select(col("cluster"), col("nm"), col("nm_src"),
            expr("CAST(floor(bal * 10000 + 0.5) AS BIGINT)").as("bal_e4"),
            col("bal_src"), col("nat").cast("long").as("nat"),
            col("nat_src"))
          .orderBy("cluster")
      },
      Some("""SELECT c_custkey AS cluster,
               CASE WHEN c_custkey % 7 = 0 THEN upper(c_name)
                    WHEN c_custkey % 5 <> 0 THEN c_name
                    WHEN c_custkey % 3 = 0 THEN lower(c_name)
                    ELSE NULL END AS nm,
               CASE WHEN c_custkey % 7 = 0 THEN 'support'
                    WHEN c_custkey % 5 <> 0 THEN 'crm'
                    WHEN c_custkey % 3 = 0 THEN 'web'
                    ELSE NULL END AS nm_src,
               CASE WHEN c_custkey % 4 <> 0
                      THEN CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT)
                    WHEN c_custkey % 3 = 0
                      THEN CAST(floor((c_acctbal + 10.0) * 10000 + 0.5)
                        AS BIGINT)
                    ELSE NULL END AS bal_e4,
               CASE WHEN c_custkey % 4 <> 0 THEN 'crm'
                    WHEN c_custkey % 3 = 0 THEN 'web'
                    ELSE NULL END AS bal_src,
               CAST(c_nationkey AS BIGINT) AS nat,
               CASE WHEN c_custkey % 7 = 0 THEN 'support'
                    ELSE 'crm' END AS nat_src
             FROM customer ORDER BY cluster""")),

    Q("u1_union_hetero",
      (s, d) => t(s, d, "customer")
        .select(lit("customer").as("entity_type"), col("c_custkey").as("id"),
          col("c_name").as("name"), col("c_nationkey").as("nationkey"))
        .unionByName(t(s, d, "supplier")
          .select(lit("supplier").as("entity_type"), col("s_suppkey").as("id"),
            col("s_name").as("name"), col("s_nationkey").as("nationkey")))
        .orderBy("entity_type", "id"),
      Some("""SELECT 'customer' AS entity_type, c_custkey AS id, c_name AS name, c_nationkey AS nationkey FROM customer
             UNION ALL
             SELECT 'supplier' AS entity_type, s_suppkey AS id, s_name AS name, s_nationkey AS nationkey FROM supplier
             ORDER BY entity_type, id""")),

    Q("u3_except_keys",
      (s, d) => t(s, d, "orders").select(col("o_custkey").as("custkey")).distinct()
        .except(t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("custkey")))
        .orderBy("custkey"),
      Some("""SELECT DISTINCT o_custkey AS custkey FROM orders
             EXCEPT
             SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             ORDER BY custkey""")),

    Q("u5_intersect",
      // Plain INTERSECT (U-family): customers active in BOTH halves of
      // the order history — Spark plans it as a left-semi join over
      // distinct'd sides, same shuffle profile as EXCEPT.
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_orderdate") < lit("1996-01-01"))
          .select(col("o_custkey").as("custkey"))
          .intersect(o.filter(col("o_orderdate") >= lit("1996-01-01"))
            .select(col("o_custkey").as("custkey")))
          .orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
             INTERSECT
             SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             ORDER BY custkey""")),

    Q("x_zorder_code",
      // The Morton (Z-order) interleave behind Layout.zorderWrite,
      // oracle-pinned: bit i of x -> position 2i, bit i of y -> 2i+1,
      // over (l_partkey % 256, l_suppkey % 256). Verified as the
      // 16-way code-space histogram plus exact min/max/sum of the
      // codes — all integers, so any bit placed anywhere else breaks
      // the hash. The code itself is what makes a multi-column
      // clustered write possible: range-partitioning files by this key
      // gives BOTH columns tight per-file parquet min/max stats.
      (s, d) => t(s, d, "lineitem")
        .withColumn("z", graft.operators.Layout.mortonCode(
          pmod(col("l_partkey"), lit(256L)).cast("long"),
          pmod(col("l_suppkey"), lit(256L)).cast("long")))
        .groupBy(expr("CAST(z div 4096 AS INT)").as("bucket"))
        .agg(count(lit(1)).as("n"), min("z").as("min_z"), max("z").as("max_z"),
          sum("z").as("sum_z"))
        .orderBy("bucket"),
      Some("""WITH coded AS (
               SELECT CAST(list_sum(list_transform(range(0, 8), i ->
                   ((x >> i) & 1) * (1::BIGINT << CAST(2 * i AS INT))
                 + ((y >> i) & 1) * (1::BIGINT << CAST(2 * i + 1 AS INT))))
                 AS BIGINT) AS z
               FROM (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y
                     FROM lineitem))
             SELECT CAST(z // 4096 AS INT) AS bucket, count(*) AS n,
               CAST(min(z) AS BIGINT) AS min_z, CAST(max(z) AS BIGINT) AS max_z,
               CAST(sum(z) AS BIGINT) AS sum_z
             FROM coded GROUP BY 1 ORDER BY bucket""")),

    Q("x_hilbert_code",
      // Hilbert-curve clustering audit (sixteenth-proposal #5): exact
      // integer xy2d Hilbert codes on the 2^6 grid (orderdate-day bucket x
      // totalprice bucket), published NEXT TO the Morton codes of the same
      // occupied cells with the locality claim that justifies curve choice,
      // MEASURED the way it is cashed in at scan time: for 2-D predicate
      // boxes (one whole-grid box + 12 unaligned 13x11 boxes; the 64x64 grid keeps occupancy near-full at verify SFs — at 2^8 the ~20% sf0.01 occupancy let gap-noise swamp the curve signal, measured before choosing the grid), the number
      // of CONTIGUOUS code runs covering the box's occupied cells — each
      // run is one contiguous file/row-group range a pruned scan must
      // touch, and fewer runs per box is the Hilbert clustering theorem
      // (Moon-Jagadish-Faloutsos-Saltz 2001). Per-axis mean |code delta|
      // does NOT separate the curves cleanly (Morton is better along x,
      // Hilbert along y — measured before choosing this metric); run
      // counts on unaligned boxes do, ~1.8x fewer for Hilbert at full
      // occupancy, ~1.5x at the ~96% occupancy sf0.01 gives this grid. Codes are pinned per (curve, box) by exact integer
      // moments (n_cells, min, max, sum): any bit placed anywhere else
      // breaks the hash. Scale shape: one partial-agg shuffle onto the
      // bounded 2^12-cell grid, a broadcast box join, and windows keyed
      // (curve, box) over <= 2^16 cells each — grid size is a layout
      // constant, so every stage is scale-free in the row count. The
      // Spark side runs the convert-and-rotate loop inside one aggregate
      // HOF (Layout.hilbertCode, unit-step bijection proven exhaustively
      // in LayoutSpec); the oracle carries (x, y, d) through an 8-level
      // recursive CTE — same arithmetic, independently stated.
      (s, d) => {
        import s.implicits._
        val cells = t(s, d, "orders").select(
            expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') % 64 AS BIGINT)").as("xb"),
            expr("(CAST(floor(o_totalprice) AS BIGINT) div 2500) % 64").as("yb"))
          .groupBy("xb", "yb").agg(count(lit(1)).as("n_rows"))
          .withColumn("h", graft.operators.Layout.hilbertCode("xb", "yb", 6))
          .withColumn("z", graft.operators.Layout.mortonCode(col("xb"), col("yb"), 6))
        val boxDf = broadcast(Seq(
            (0, 0, 0, 64, 64), (1, 5, 3, 13, 11), (2, 22, 41, 13, 11),
            (3, 39, 15, 13, 11), (4, 13, 27, 13, 11), (5, 45, 33, 13, 11),
            (6, 29, 49, 13, 11), (7, 50, 7, 13, 11), (8, 9, 50, 13, 11),
            (9, 37, 37, 13, 11), (10, 18, 11, 13, 11), (11, 44, 20, 13, 11),
            (12, 26, 30, 13, 11))
          .toDF("box_id", "x0", "y0", "bw", "bh")
          .select(col("box_id").cast("long").as("box_id"),
            col("x0").cast("long").as("x0"), col("y0").cast("long").as("y0"),
            col("bw").cast("long").as("bw"), col("bh").cast("long").as("bh")))
        val un = cells.join(boxDf,
            col("xb") >= col("x0") && col("xb") < col("x0") + col("bw") &&
            col("yb") >= col("y0") && col("yb") < col("y0") + col("bh"))
          .select(explode(array(
            struct(lit("hilbert").as("curve"), col("h").as("c"),
              col("box_id"), col("n_rows")),
            struct(lit("morton").as("curve"), col("z").as("c"),
              col("box_id"), col("n_rows")))).as("r"))
          .select(col("r.*"))
        val w = Window.partitionBy("curve", "box_id").orderBy("c")
        un.withColumn("brk",
            when(lag("c", 1).over(w).isNull ||
              col("c") - lag("c", 1).over(w) > 1, 1L).otherwise(0L))
          .groupBy("curve", "box_id")
          .agg(count(lit(1)).as("n_cells"), sum("n_rows").as("n_rows"),
            sum("brk").as("n_runs"), min("c").as("min_c"),
            max("c").as("max_c"), sum("c").as("sum_c"))
          .orderBy("curve", "box_id")
      },
      Some("""WITH RECURSIVE pts AS (
               SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 64 AS BIGINT) AS xb,
                 CAST((CAST(floor(o_totalprice) AS BIGINT) // 2500) % 64 AS BIGINT) AS yb
               FROM orders),
             cells AS (
               SELECT xb, yb, CAST(count(*) AS BIGINT) AS n_rows
               FROM pts GROUP BY 1, 2),
             hil AS (
               SELECT xb, yb, n_rows, xb AS x, yb AS y, CAST(0 AS BIGINT) AS d, 5 AS i FROM cells
               UNION ALL
               SELECT xb, yb, n_rows,
                 CASE WHEN ((y >> i) & 1) = 1 THEN x
                      WHEN ((x >> i) & 1) = 1 THEN 63 - y ELSE y END,
                 CASE WHEN ((y >> i) & 1) = 1 THEN y
                      WHEN ((x >> i) & 1) = 1 THEN 63 - x ELSE x END,
                 d + (CAST(1 AS BIGINT) << (2 * i))
                   * CAST(xor(3 * ((x >> i) & 1), (y >> i) & 1) AS BIGINT),
                 i - 1
               FROM hil WHERE i >= 0),
             coded AS (
               SELECT xb, yb, n_rows, d AS h,
                 CAST(list_sum(list_transform(range(0, 6), j ->
                     ((xb >> j) & 1) * (1::BIGINT << CAST(2 * j AS INT))
                   + ((yb >> j) & 1) * (1::BIGINT << CAST(2 * j + 1 AS INT))))
                   AS BIGINT) AS z
               FROM hil WHERE i = -1),
             boxes(box_id, x0, y0, bw, bh) AS (VALUES
               (0, 0, 0, 64, 64), (1, 5, 3, 13, 11), (2, 22, 41, 13, 11),
               (3, 39, 15, 13, 11), (4, 13, 27, 13, 11), (5, 45, 33, 13, 11),
               (6, 29, 49, 13, 11), (7, 50, 7, 13, 11), (8, 9, 50, 13, 11),
               (9, 37, 37, 13, 11), (10, 18, 11, 13, 11), (11, 44, 20, 13, 11),
               (12, 26, 30, 13, 11)),
             un AS (
               SELECT u.curve, u.c, CAST(b.box_id AS BIGINT) AS box_id, u.n_rows
               FROM (SELECT xb, yb, n_rows, 'hilbert' AS curve, h AS c FROM coded
                     UNION ALL
                     SELECT xb, yb, n_rows, 'morton' AS curve, z AS c FROM coded) u
               JOIN boxes b ON u.xb >= b.x0 AND u.xb < b.x0 + b.bw
                           AND u.yb >= b.y0 AND u.yb < b.y0 + b.bh),
             lag1 AS (
               SELECT curve, box_id, c, n_rows,
                 CASE WHEN lag(c) OVER (PARTITION BY curve, box_id ORDER BY c) IS NULL
                        OR c - lag(c) OVER (PARTITION BY curve, box_id ORDER BY c) > 1
                      THEN 1 ELSE 0 END AS brk
               FROM un)
             SELECT curve, box_id,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(brk) AS BIGINT) AS n_runs,
               CAST(min(c) AS BIGINT) AS min_c, CAST(max(c) AS BIGINT) AS max_c,
               CAST(sum(c) AS BIGINT) AS sum_c
             FROM lag1 GROUP BY 1, 2 ORDER BY curve, box_id""")),

    Q("j13_interval_overlap",
      // Interval-overlap join WITHOUT an equi-key, made scale-shaped by
      // the binning decomposition (operators/IntervalJoin.overlapJoin):
      // per-user event sessions (the w5_sessionize gaps-and-islands
      // intervals, epoch-second bounds) overlap-joined against six
      // 2-hour audit windows derived IN-PLAN from the corpus min
      // timestamp (1-row broadcast, no driver fetch). The operator
      // explodes both sides onto 1-hour buckets and joins on the bucket
      // id — an EQUI join with the overlap predicate as residual — so
      // Spark never plans the quadratic nested loop a raw range
      // condition forces; each pair survives only in the canonical
      // bucket of the later start, so no pair-universe distinct. The
      // oracle states the naive quadratic join (correct at oracle
      // scale); IntervalJoinSpec proves binned == naive on random
      // fixtures and pins the equi-join plan shape.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts")
        val sessions = t(s, d, "events").select(col("user_id"), col("ts"))
          .withColumn("gap_us",
            expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w))
          .withColumn("new_sess",
            when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_no", sum("new_sess").over(w))
          .groupBy("user_id", "session_no")
          .agg(expr("min(unix_micros(ts)) div 1000000").as("s_start"),
            expr("max(unix_micros(ts)) div 1000000").as("s_end"))
        val windows = broadcast(t(s, d, "events")
          .agg(expr("min(unix_micros(ts)) div 1000000").as("m0"))
          .select(explode(sequence(lit(0), lit(5))).as("i"), col("m0"))
          .select(col("i").cast("long").as("w_id"),
            (col("m0") + col("i") * lit(21600L)).as("w_start"),
            (col("m0") + col("i") * lit(21600L) + lit(7200L)).as("w_end")))
        graft.operators.IntervalJoin.overlapJoin(
            sessions, windows,
            "user_id", "s_start", "s_end", "w_id", "w_start", "w_end",
            bucket = 3600L)
          .groupBy("w_id", "w_start")
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct("user_id").as("n_users"))
          .orderBy("w_id")
      },
      Some("""WITH s AS (
               SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_sess
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             s2 AS (
               SELECT user_id, ts,
                 CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
                   AS session_no
               FROM s),
             sess AS (
               SELECT user_id, session_no,
                 CAST(min(epoch_us(ts)) // 1000000 AS BIGINT) AS s_start,
                 CAST(max(epoch_us(ts)) // 1000000 AS BIGINT) AS s_end
               FROM s2 GROUP BY 1, 2),
             m AS (SELECT CAST(min(epoch_us(ts)) // 1000000 AS BIGINT) AS m0
                   FROM events),
             w AS (SELECT CAST(i AS BIGINT) AS w_id,
                     m0 + i * 21600 AS w_start,
                     m0 + i * 21600 + 7200 AS w_end
                   FROM m, UNNEST(range(0, 6)) AS t(i))
             SELECT w_id, w_start, CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             FROM w JOIN sess ON s_start <= w_end AND w_start <= s_end
             GROUP BY 1, 2 ORDER BY w_id""")),

    Q("x_assoc_rules",
      // Association rules with a-priori pruning (Agrawal-Srikant
      // 1993/94, tenth-proposal #1): frequent part PAIRS across order
      // baskets, ranked by LIFT — "customers who buy A also buy B",
      // the market-basket query. The a-priori monotonicity prune runs
      // FIRST: only parts in >= 10 orders enter the pair join (a
      // broadcast semi-join; on this uniform corpus it prunes little,
      // but at 100 TB it is what keeps the basket self-join off the
      // long-tail item explosion — the pair space is quadratic only in
      // FREQUENT items per basket, and baskets are ~4 items). Lift is
      // ordered by the exact cross-multiplied integer ratio in
      // DECIMAL(38,0)/HUGEINT (the x_pmi_collocations discipline:
      // monotone in true lift, zero libm, no division overflow at any
      // scale); confidence both directions in exact ppm. Min pair
      // support 2 (this corpus's co-orders are near-random: measured
      // max pair support 5 at sf0.01); top-20 under a total
      // (lift, pa, pb) order.
      (s, d) => {
        val it = t(s, d, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
        val f1 = it.groupBy("p").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 10)
        val itF = it.join(broadcast(f1.select("p")), Seq("p"))
        val pairs = itF.select(col("o"), col("p").as("pa"))
          .join(itF.select(col("o"), col("p").as("pb")).hint("merge"),
            Seq("o"))
          .filter(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 2)
        val nOrd = broadcast(it.select("o").distinct()
          .agg(count(lit(1)).as("n")))
        pairs
          .join(broadcast(f1.select(col("p").as("pa"), col("c").as("c1"))),
            Seq("pa"))
          .join(broadcast(f1.select(col("p").as("pb"), col("c").as("c2"))),
            Seq("pb"))
          .crossJoin(nOrd)
          .withColumn("lift_e4", expr(
            "CAST(CAST(10000 AS DECIMAL(38,0)) * c12 * n" +
              " div (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"))
          .withColumn("conf_ab_ppm", expr("1000000 * c12 div c1"))
          .withColumn("conf_ba_ppm", expr("1000000 * c12 div c2"))
          .select("pa", "pb", "c12", "c1", "c2", "lift_e4",
            "conf_ab_ppm", "conf_ba_ppm")
          .orderBy(desc("lift_e4"), col("pa"), col("pb"))
          .limit(20)
      },
      Some("""WITH it AS (
               SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             f1 AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM it
                    GROUP BY p HAVING count(*) >= 10),
             itf AS (SELECT it.* FROM it JOIN f1 USING (p)),
             pairs AS (
               SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c12
               FROM itf a JOIN itf b ON a.o = b.o AND a.p < b.p
               GROUP BY 1, 2 HAVING count(*) >= 2),
             nord AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM it)
             SELECT pa, pb, c12, u1.c AS c1, u2.c AS c2,
               CAST(CAST(10000 AS HUGEINT) * c12 * n
                 // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS lift_e4,
               CAST(1000000 * c12 // u1.c AS BIGINT) AS conf_ab_ppm,
               CAST(1000000 * c12 // u2.c AS BIGINT) AS conf_ba_ppm
             FROM pairs JOIN f1 u1 ON pairs.pa = u1.p
               JOIN f1 u2 ON pairs.pb = u2.p, nord
             ORDER BY lift_e4 DESC, pa, pb LIMIT 20""")),

    Q("j16_allen_relations",
      // Full Allen interval-relation classification (Allen 1983,
      // tenth-proposal #6): every pair of a customer's order intervals
      // [orderdate, last shipdate] — in epoch days, exact integers —
      // classified into Allen's relation algebra, counted per
      // relation. Pair orientation is canonical (A = the (start, key)-
      // smaller interval), which makes exactly 8 of the 13 relations
      // reachable: before/meets/overlaps/finished_by/contains when A
      // starts strictly first, equals/starts/started_by on tied
      // starts — the inverse five need A to start later, excluded by
      // construction (stated, not discovered). Scale shape: the pair
      // frame is per-customer and orders-per-customer is corpus-
      // bounded (~10), so the join is linear in customers — the j13
      // family's interval algebra closed out with classification.
      // Orders with no lineitem rows have no end bound and drop out
      // via the inner join (documented).
      (s, d) => {
        val iv = t(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(expr("max(unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000)").as("e"))
          .join(t(s, d, "orders").select(col("o_orderkey").as("ok"),
            col("o_custkey"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("b")),
            Seq("ok"))
        val a = iv.select(col("o_custkey"), col("ok").as("ka"),
          col("b").as("ba"), col("e").as("ea"))
        val bb = iv.select(col("o_custkey"), col("ok").as("kb"),
          col("b").as("bb"), col("e").as("eb"))
        a.join(bb.hint("merge"), Seq("o_custkey"))
          .filter(col("ba") < col("bb") ||
            (col("ba") === col("bb") && col("ka") < col("kb")))
          .withColumn("rel", expr("""CASE
              WHEN ba = bb AND ea = eb THEN 'equals'
              WHEN ba = bb AND ea < eb THEN 'starts'
              WHEN ba = bb THEN 'started_by'
              WHEN ea < bb THEN 'before'
              WHEN ea = bb THEN 'meets'
              WHEN ea < eb THEN 'overlaps'
              WHEN ea = eb THEN 'finished_by'
              ELSE 'contains' END"""))
          .groupBy("rel").agg(count(lit(1)).as("n_pairs"))
          .orderBy("rel")
      },
      Some("""WITH iv AS (
               SELECT o_orderkey AS ok, o_custkey,
                 epoch_us(o_orderdate) // 86400000000 AS b, e
               FROM orders JOIN (
                 SELECT l_orderkey,
                   max(epoch_us(l_shipdate) // 86400000000) AS e
                 FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey),
             pr AS (
               SELECT a.b AS ba, a.e AS ea, c.b AS bb, c.e AS eb
               FROM iv a JOIN iv c ON a.o_custkey = c.o_custkey
                 AND (a.b < c.b OR (a.b = c.b AND a.ok < c.ok)))
             SELECT CASE
                 WHEN ba = bb AND ea = eb THEN 'equals'
                 WHEN ba = bb AND ea < eb THEN 'starts'
                 WHEN ba = bb THEN 'started_by'
                 WHEN ea < bb THEN 'before'
                 WHEN ea = bb THEN 'meets'
                 WHEN ea < eb THEN 'overlaps'
                 WHEN ea = eb THEN 'finished_by'
                 ELSE 'contains' END AS rel,
               CAST(count(*) AS BIGINT) AS n_pairs
             FROM pr GROUP BY 1 ORDER BY rel""")),

    Q("j20_stab_points",
    // Minimum interval piercing + clique number (twentieth-proposal
    // #3): per customer, (a) the MINIMUM number of points stabbing
    // every order interval — greedy place-at-first-unstabbed-end,
    // optimal by the exchange argument; on interval graphs this
    // equals the maximum set of pairwise-disjoint intervals, i.e.
    // j17's n_selected, and the fold IS that recurrence (the
    // identity is structural, stated rather than re-published) —
    // and (b) the maximum OVERLAP DEPTH (the interval-graph clique
    // number, per-customer where j18's sweep was corpus-global):
    // boundary events (+1 at begin, -1 at end+1) folded in (day,
    // delta) order carrying (running, max). Published as the
    // (n_orders, n_points, max_depth) customer distribution — the
    // capacity row "how many service points, how deep the worst
    // pile-up". Both folds are aggregate() HOFs over per-customer
    // arrays bounded by orders-per-customer; one corpus pass builds
    // the interval frame (lineitem max-shipdate join, the j17
    // construction). Oracle: the piercing walk as a bounded
    // recursive CTE (the j17 idiom), the depth as a boundary-event
    // running-sum window.
    (s, d) => {
      val iv = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(expr("max(unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000)").as("e"))
        .join(t(s, d, "orders").select(col("o_orderkey").as("ok"),
          col("o_custkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("b")),
          Seq("ok"))
      iv.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          expr("""aggregate(
              array_sort(collect_list(named_struct('e', e, 'b', b, 'ok', ok))),
              named_struct('cnt', CAST(0 AS BIGINT), 'lp', CAST(-1 AS BIGINT)),
              (acc, x) -> IF(x.b > acc.lp,
                named_struct('cnt', acc.cnt + 1, 'lp', x.e), acc),
              acc -> acc.cnt)""").as("n_points"),
          expr("""aggregate(
              array_sort(flatten(collect_list(array(
                named_struct('day', b, 'delta', CAST(1 AS BIGINT)),
                named_struct('day', e + 1, 'delta', CAST(-1 AS BIGINT)))))),
              named_struct('cur', CAST(0 AS BIGINT), 'mx', CAST(0 AS BIGINT)),
              (acc, x) -> named_struct('cur', acc.cur + x.delta,
                'mx', greatest(acc.mx, acc.cur + x.delta)),
              acc -> acc.mx)""").as("max_depth"))
        .groupBy("n_orders", "n_points", "max_depth")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders", "n_points", "max_depth")
    },
    Some("""WITH RECURSIVE iv AS (
             SELECT o_custkey,
               epoch_us(o_orderdate) // 86400000000 AS b, e,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY e, epoch_us(o_orderdate) // 86400000000,
                   o_orderkey) AS r
             FROM orders JOIN (
               SELECT l_orderkey,
                 max(epoch_us(l_shipdate) // 86400000000) AS e
               FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey),
           walk AS (
             SELECT o_custkey, 0 AS r, CAST(0 AS BIGINT) AS cnt,
               CAST(-1 AS BIGINT) AS last_p
             FROM (SELECT DISTINCT o_custkey FROM iv)
             UNION ALL
             SELECT w.o_custkey, w.r + 1,
               CASE WHEN i.b > w.last_p THEN w.cnt + 1 ELSE w.cnt END,
               CASE WHEN i.b > w.last_p THEN i.e ELSE w.last_p END
             FROM walk w JOIN iv i ON i.o_custkey = w.o_custkey
               AND i.r = w.r + 1),
           pts AS (
             SELECT o_custkey, CAST(max(r) AS BIGINT) AS n_orders,
               max_by(cnt, r) AS n_points
             FROM walk GROUP BY o_custkey),
           ev AS (
             SELECT o_custkey, b AS day, CAST(1 AS BIGINT) AS delta
             FROM iv
             UNION ALL
             SELECT o_custkey, e + 1, CAST(-1 AS BIGINT) FROM iv),
           dep AS (
             SELECT o_custkey, CAST(max(run) AS BIGINT) AS max_depth
             FROM (
               SELECT o_custkey,
                 sum(delta) OVER (PARTITION BY o_custkey
                   ORDER BY day, delta
                   ROWS UNBOUNDED PRECEDING) AS run
               FROM ev) GROUP BY o_custkey),
           fin AS (
             SELECT p.n_orders, p.n_points, d.max_depth
             FROM pts p JOIN dep d ON p.o_custkey = d.o_custkey)
           SELECT n_orders, n_points, max_depth,
             CAST(count(*) AS BIGINT) AS n_customers
           FROM fin GROUP BY 1, 2, 3
           ORDER BY n_orders, n_points, max_depth""")),

    Q("j17_interval_schedule",
    // Activity selection (eleventh-proposal #4): per customer, the
    // provably-MAXIMUM set of pairwise non-overlapping order intervals
    // — the classic greedy-by-earliest-end algorithm, exact by the
    // exchange argument, over the same [orderdate, last-shipdate]
    // epoch-day intervals as j16. Non-overlap is strict (next.b >
    // prev.e: closed intervals sharing a day conflict, the Allen
    // 'meets' case). Scale shape: one corpus aggregation builds each
    // customer's interval array (orders-per-customer is corpus-bounded
    // ~10-40, so the array and the fold depth are bounded per key, the
    // w27 aggregate-HOF discipline — no window, no iteration over the
    // corpus); the published rollup is the (n_orders, n_selected)
    // distribution, a vocabulary-bounded frame. The oracle replays the
    // identical fold as a bounded recursive CTE walking each
    // customer's rank-ordered intervals (depth = max orders per
    // customer). Deterministic: the greedy scan order is the total
    // (end, start, orderkey) sort on both engines.
    (s, d) => {
      val iv = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(expr("max(unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000)").as("e"))
        .join(t(s, d, "orders").select(col("o_orderkey").as("ok"),
          col("o_custkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("b")),
          Seq("ok"))
      iv.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          expr("""aggregate(
              array_sort(collect_list(named_struct('e', e, 'b', b, 'ok', ok))),
              named_struct('cnt', CAST(0 AS BIGINT), 'le', CAST(-1 AS BIGINT)),
              (acc, x) -> IF(x.b > acc.le,
                named_struct('cnt', acc.cnt + 1, 'le', x.e), acc),
              acc -> acc.cnt)""").as("n_selected"))
        .groupBy("n_orders", "n_selected")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders", "n_selected")
    },
    Some("""WITH RECURSIVE iv AS (
             SELECT o_custkey,
               epoch_us(o_orderdate) // 86400000000 AS b, e,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY e, epoch_us(o_orderdate) // 86400000000,
                   o_orderkey) AS r
             FROM orders JOIN (
               SELECT l_orderkey,
                 max(epoch_us(l_shipdate) // 86400000000) AS e
               FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey),
           walk AS (
             SELECT o_custkey, 0 AS r, CAST(0 AS BIGINT) AS cnt,
               CAST(-1 AS BIGINT) AS last_e
             FROM (SELECT DISTINCT o_custkey FROM iv)
             UNION ALL
             SELECT w.o_custkey, w.r + 1,
               CASE WHEN i.b > w.last_e THEN w.cnt + 1 ELSE w.cnt END,
               CASE WHEN i.b > w.last_e THEN i.e ELSE w.last_e END
             FROM walk w JOIN iv i ON i.o_custkey = w.o_custkey
               AND i.r = w.r + 1),
           fin AS (
             SELECT o_custkey, CAST(max(r) AS BIGINT) AS n_orders,
               max_by(cnt, r) AS n_selected
             FROM walk GROUP BY o_custkey)
           SELECT n_orders, n_selected,
             CAST(count(*) AS BIGINT) AS n_customers
           FROM fin GROUP BY 1, 2 ORDER BY n_orders, n_selected""")),

    Q("j18_stabbing_count",
      // Interval stabbing by sweep (the difference-array classic,
      // Bentley's sweep-line family): for every calendar day, how many
      // order intervals [orderdate, last shipdate] are active — the
      // AGGREGATE face of the interval family (j9 joins point-to-
      // interval, j13/j16 classify pairs, j17 selects; this one
      // answers "concurrency over time", the capacity-planning
      // readout). The 100 TB shape: each interval contributes exactly
      // TWO delta events (+1 at start, -1 the day after end), so the
      // corpus collapses in ONE map-side-combinable aggregation onto
      // the day-bounded delta frame; the running concurrency is a
      // prefix sum over the dense calendar (sequence() off a 1-row
      // span aggregate — ~2,400 rows at every SF, a bounded single-
      // partition window by design, same as w28's series frame).
      // Published per day: interval starts, active count, and the
      // peak-day flag (ties all flagged; exact integers).
      (s, d) => {
        val iv = t(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(expr("max(unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000)").as("e"))
          .join(t(s, d, "orders").select(col("o_orderkey").as("ok"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("b")),
            Seq("ok"))
        val deltas = iv.select(col("b").as("day"), lit(1L).as("delta"))
          .unionByName(iv.select((col("e") + 1).as("day"), lit(-1L).as("delta")))
          .groupBy("day").agg(sum("delta").as("delta"))
        val starts = iv.groupBy(col("b").as("day"))
          .agg(count(lit(1)).as("n_starts"))
        val span = iv.agg(min("b").as("d0"), max("e").as("d1"))
        val days = span.select(explode(expr("sequence(d0, d1)")).as("day"))
        val active = days
          .join(deltas, Seq("day"), "left").na.fill(0L, Seq("delta"))
          .join(starts, Seq("day"), "left").na.fill(0L, Seq("n_starts"))
          .withColumn("n_active", sum("delta").over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
        active
          .withColumn("is_peak",
            (col("n_active") === max("n_active").over(Window.partitionBy()))
              .cast("int"))
          .select(col("day"), col("n_starts"), col("n_active"), col("is_peak"))
          .orderBy("day")
      },
      Some("""WITH iv AS (
               SELECT epoch_us(o_orderdate) // 86400000000 AS b, e
               FROM orders JOIN (
                 SELECT l_orderkey,
                   max(epoch_us(l_shipdate) // 86400000000) AS e
                 FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey),
             deltas AS (
               SELECT day, CAST(sum(delta) AS BIGINT) AS delta
               FROM (SELECT b AS day, 1 AS delta FROM iv
                     UNION ALL SELECT e + 1, -1 FROM iv)
               GROUP BY 1),
             starts AS (SELECT b AS day, CAST(count(*) AS BIGINT) AS n_starts
                        FROM iv GROUP BY 1),
             span AS (SELECT min(b) AS d0, max(e) AS d1 FROM iv),
             days AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM span),
             active AS (
               SELECT days.day, COALESCE(starts.n_starts, 0) AS n_starts,
                 CAST(sum(COALESCE(deltas.delta, 0)) OVER (ORDER BY days.day
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_active
               FROM days LEFT JOIN deltas ON deltas.day = days.day
               LEFT JOIN starts ON starts.day = days.day)
             SELECT day, n_starts, n_active,
               CAST(n_active = max(n_active) OVER () AS INT) AS is_peak
             FROM active ORDER BY day""")),

    Q("j19_weighted_sched",
      // WEIGHTED interval scheduling, exact DP (Kleinberg-Tardos ch. 6;
      // fourteenth-proposal #3) — j17's unweighted greedy generalized:
      // per customer, the maximum total o_totalprice (exact cents) over
      // pairwise non-overlapping order intervals, via the classic
      // sort-by-end DP dp[i] = max(dp[i-1], w_i + dp[p(i)]) where p(i)
      // is the last interval ending strictly before interval i begins
      // (same strict non-overlap as j17: closed intervals sharing a day
      // conflict). Scale shape: one corpus aggregation builds each
      // customer's interval array (corpus-bounded ~10-40 per key), the
      // DP is an aggregate-HOF fold carrying the ascending ends list
      // and the nondecreasing dp list — the predecessor lookup is a
      // filter-count on the bounded ends list (the dp list is
      // nondecreasing, so dp[#\{e < b\}] IS max over all compatible
      // prefixes). No window, no corpus iteration. Published: the
      // top-15 customers by optimal value (total order: value desc,
      // custkey), with j17's n_orders for contrast. The oracle replays
      // the identical fold as a bounded recursive CTE walking each
      // customer's (end, begin, orderkey)-ranked intervals with LIST
      // state.
      (s, d) => {
        val iv = t(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(expr("max(unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " div 86400000000)").as("e"))
          .join(t(s, d, "orders").select(col("o_orderkey").as("ok"),
            col("o_custkey"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
              " div 86400000000").as("b"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("w")),
            Seq("ok"))
        iv.groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            expr("""aggregate(
                array_sort(collect_list(named_struct(
                  'e', e, 'b', b, 'ok', ok, 'w', w))),
                named_struct('ends', CAST(array() AS ARRAY<BIGINT>),
                  'dp', CAST(array() AS ARRAY<BIGINT>)),
                (acc, x) -> named_struct(
                  'ends', concat(acc.ends, array(x.e)),
                  'dp', concat(acc.dp, array(greatest(
                    IF(size(acc.dp) = 0, 0L, element_at(acc.dp, -1)),
                    x.w + IF(size(filter(acc.ends, t -> t < x.b)) = 0, 0L,
                      element_at(acc.dp,
                        size(filter(acc.ends, t -> t < x.b)))))))),
                acc -> IF(size(acc.dp) = 0, 0L, element_at(acc.dp, -1)))""")
              .as("best_c"))
          .orderBy(desc("best_c"), col("o_custkey"))
          .limit(15)
          .select(col("o_custkey"), col("n_orders"), col("best_c"))
      },
      Some("""WITH RECURSIVE iv AS (
               SELECT o_custkey,
                 epoch_us(o_orderdate) // 86400000000 AS b, e,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS w,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY e, epoch_us(o_orderdate) // 86400000000,
                     o_orderkey) AS r
               FROM orders JOIN (
                 SELECT l_orderkey,
                   max(epoch_us(l_shipdate) // 86400000000) AS e
                 FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey),
             walk AS (
               SELECT o_custkey, 0 AS r,
                 CAST([] AS BIGINT[]) AS ends, CAST([] AS BIGINT[]) AS dp
               FROM (SELECT DISTINCT o_custkey FROM iv)
               UNION ALL
               SELECT w.o_custkey, w.r + 1,
                 list_append(w.ends, i.e),
                 list_append(w.dp, greatest(
                   CASE WHEN len(w.dp) = 0 THEN 0 ELSE w.dp[len(w.dp)] END,
                   i.w + CASE
                     WHEN len(list_filter(w.ends, t -> t < i.b)) = 0 THEN 0
                     ELSE w.dp[len(list_filter(w.ends, t -> t < i.b))]
                   END))
               FROM walk w JOIN iv i ON i.o_custkey = w.o_custkey
                 AND i.r = w.r + 1),
             fin AS (
               SELECT o_custkey, CAST(max(r) AS BIGINT) AS n_orders,
                 max_by(CASE WHEN len(dp) = 0 THEN 0 ELSE dp[len(dp)] END, r)
                   AS best_c
               FROM walk GROUP BY o_custkey)
             SELECT o_custkey, n_orders, CAST(best_c AS BIGINT) AS best_c
             FROM fin ORDER BY best_c DESC, o_custkey LIMIT 15"""))
  )
}
