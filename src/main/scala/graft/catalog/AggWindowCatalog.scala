package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.catalog.Q.t
import graft.operators.Lineage.CutOps

/** Aggregations, windows, scalar-function pipelines and batch-temporal
  * (SCD / snapshot-diff) operators from SURVEY.md §2.4–§2.9.
  *
  *  A2  multi distinct-count after left join -> a2_nation_summary
  *  A5  collect_set                          -> a5_collect_names
  *  A6  sliced ordered collect               -> a6_first_orders
  *  A7  funnel / two-level agg               -> a7_funnel
  *  A8  rate across two aggregations         -> a8_campaign_rates
  *  A12 deterministic dedup                  -> a12_dedup_first
  *  A13 content hash of canonical row        -> a13_row_hash
  *  W1  arg-max per key                      -> w1_latest_event
  *  W2  top-n within group                   -> w2_top3_per_cust
  *  W3  SCD2 validity intervals (lead)       -> w3_scd2_intervals
  *  W4  running total                        -> w4_running_total
  *  F1/F2/F7/F8 string cleaning              -> f_scalar_clean
  *  F4/F5 lenient casts                      -> f_safe_cast
  *  F11 interval arithmetic / date parts     -> f_date_parts
  *  F18 CASE/conditional                     -> f_case_tiers
  *  get_json_object on string props          -> f_json_extract
  *  T1  snapshot diff classification         -> t1_snapshot_diff
  *  T8  point-in-time (as-of) state          -> t8_asof_state
  *  MERGE INTO (upsert+delete, one statement)-> t9_merge_upsert
  *  MERGE of a versioned CDC feed            -> t10_merge_cdc
  *  snapshot isolation / time travel         -> t12_time_travel
  *  OPTIMIZE small-file compaction           -> t13_compact_roundtrip
  *  row-level changed-data feed (Delta CDF)  -> t14_change_feed
  *  schema evolution (mergeSchema commits)   -> t15_schema_evolution
  *  merge-on-read deletes (deletion vectors) -> t16_deletion_vectors
  *  incremental join-view maintenance (IVM)  -> t17_join_view
  */
object AggWindowCatalog {

  private val tsFmtSpark = "yyyy-MM-dd HH:mm:ss"

  val all: Seq[Q] = Seq(
    Q("a2_nation_summary",
      (s, d) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("n_name")
        .agg(countDistinct(col("c_custkey")).as("n_customers"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_value"))
        .orderBy("n_name"),
      Some("""SELECT n_name, count(DISTINCT c_custkey) AS n_customers,
             count(DISTINCT o_orderkey) AS n_orders,
             round(coalesce(sum(o_totalprice), 0.0), 2) AS total_value
             FROM customer JOIN nation ON c_nationkey = n_nationkey
             LEFT JOIN orders ON c_custkey = o_custkey
             GROUP BY n_name ORDER BY n_name""")),

    Q("a5_collect_names",
      (s, d) => t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(array_join(sort_array(collect_set(col("s_name"))), "|").as("supplier_names"),
          count(lit(1)).as("n_suppliers"))
        .orderBy("n_name"),
      Some("""SELECT n_name, string_agg(DISTINCT s_name, '|' ORDER BY s_name) AS supplier_names,
             count(*) AS n_suppliers
             FROM supplier JOIN nation ON s_nationkey = n_nationkey
             GROUP BY n_name ORDER BY n_name""")),

    Q("a6_first_orders",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(array_join(
          slice(sort_array(collect_list(date_format(col("o_orderdate"), "yyyy-MM-dd"))), 1, 3),
          "|").as("first3_orderdates"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             array_to_string(list_slice(list_sort(list(strftime(o_orderdate, '%Y-%m-%d'))), 1, 3), '|')
               AS first3_orderdates
             FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    Q("a7_funnel",
      (s, d) => {
        val per = t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg(sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
            sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"))
        per.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            sum("n_o").as("open_orders"),
            sum("n_f").as("filled_orders"),
            round(sum(when(col("n_f") > 0, 1).otherwise(0)) * lit(100.0) / count(lit(1)), 4)
              .as("conversion_pct"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers,
             CAST(sum(n_o) AS BIGINT) AS open_orders,
             CAST(sum(n_f) AS BIGINT) AS filled_orders,
             round(sum(CASE WHEN n_f > 0 THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS conversion_pct
             FROM (
               SELECT c_custkey, c_mktsegment,
                 CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
                 CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f
               FROM customer LEFT JOIN orders ON c_custkey = o_custkey
               GROUP BY c_custkey, c_mktsegment)
             GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Q("a8_campaign_rates",
      (s, d) => {
        val ev = t(s, d, "events").withColumn("bucket", col("user_id") % 20)
        val opens = ev.filter(col("event_type") === "view")
          .groupBy("bucket").agg(count(lit(1)).as("opens"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("bucket").agg(count(lit(1)).as("clicks"))
        opens.join(clicks, Seq("bucket"), "inner")
          .filter(col("opens") > 0)
          .select(col("bucket"), col("opens"), col("clicks"),
            round(col("clicks") * lit(100.0) / col("opens"), 4).as("click_rate_pct"))
          .orderBy("bucket")
      },
      Some("""SELECT o.bucket AS bucket, o.opens AS opens, c.clicks AS clicks,
             round(c.clicks * 100.0 / o.opens, 4) AS click_rate_pct
             FROM (SELECT user_id % 20 AS bucket, count(*) AS opens FROM events
                   WHERE event_type = 'view' GROUP BY 1) o
             JOIN (SELECT user_id % 20 AS bucket, count(*) AS clicks FROM events
                   WHERE event_type = 'click' GROUP BY 1) c
               ON o.bucket = c.bucket
             WHERE o.opens > 0 ORDER BY bucket""")),

    Q("a12_dedup_first",
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").asc, col("event_id").asc)
        t(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id FROM (
               SELECT user_id, event_type, event_id,
                 row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
               FROM events)
             WHERE rn = 1 ORDER BY user_id, event_type""")),

    Q("a13_row_hash",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          md5(concat_ws("|",
            col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
            col("l_returnflag"), col("l_linestatus"))).as("row_hash"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
                 l_returnflag, l_linestatus)) AS row_hash
             FROM lineitem WHERE l_orderkey < 500
             ORDER BY l_orderkey, l_linenumber""")),

    Q("w1_latest_event",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        t(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"),
            date_format(col("ts"), tsFmtSpark).as("last_ts"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
             FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                   FROM events)
             WHERE rn = 1 ORDER BY user_id""")),

    Q("w2_top3_per_cust",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, d, "orders")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_custkey", "rnk")
      },
      Some("""SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
               SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
               FROM orders)
             WHERE rnk <= 3 ORDER BY o_custkey, rnk""")),

    Q("w3_scd2_intervals",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        t(s, d, "events")
          .filter(col("user_id") < 50)
          .withColumn("next_ts", lead(col("ts"), 1).over(w))
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), tsFmtSpark).as("valid_from"),
            coalesce(date_format(col("next_ts"), tsFmtSpark), lit("9999-12-31 00:00:00"))
              .as("valid_to"))
          .orderBy("user_id", "valid_from", "event_id")
      },
      Some("""SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
             coalesce(strftime(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to
             FROM events WHERE user_id < 50
             ORDER BY user_id, valid_from, event_id""")),

    Q("w4_running_total",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .filter(col("user_id") < 30)
          .select(col("user_id"), col("event_id"),
            round(sum(col("value")).over(w), 2).as("running_value"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
             FROM events WHERE user_id < 30
             ORDER BY user_id, event_id""")),

    Q("f_scalar_clean",
      (s, d) => t(s, d, "customer")
        .select(col("c_custkey"),
          lower(trim(col("c_name"))).as("name_lc"),
          regexp_replace(col("c_name"), "^Customer#0*", "").as("cust_num"),
          concat_ws("-", col("c_mktsegment"), substring(col("c_name"), 1, 8)).as("seg_label"),
          org.apache.spark.sql.functions.right(col("c_name"), lit(3)).as("name_tail"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, lower(trim(c_name)) AS name_lc,
             regexp_replace(c_name, '^Customer#0*', '') AS cust_num,
             concat_ws('-', c_mktsegment, substring(c_name, 1, 8)) AS seg_label,
             right(c_name, 3) AS name_tail
             FROM customer ORDER BY c_custkey""")),

    Q("f_json_extract",
      (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             count(*) AS n
             FROM events GROUP BY event_type ORDER BY event_type""")),

    Q("f_safe_cast",
      (s, d) => t(s, d, "events")
        .select(col("event_type"),
          coalesce(expr("try_cast(regexp_extract(props, '([0-9]+)', 1) AS long)"), lit(0L))
            .as("k_safe"),
          coalesce(expr("try_cast(event_type AS long)"), lit(0L)).as("garbage_safe"))
        .groupBy("event_type")
        .agg(sum("k_safe").as("sum_k_safe"), sum("garbage_safe").as("sum_garbage"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             CAST(sum(coalesce(TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT), 0)) AS BIGINT) AS sum_k_safe,
             CAST(sum(coalesce(TRY_CAST(event_type AS BIGINT), 0)) AS BIGINT) AS sum_garbage
             FROM events GROUP BY event_type ORDER BY event_type""")),

    Q("f_date_parts",
      (s, d) => t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("month_value"))
        .orderBy("order_month"),
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS month_value
             FROM orders GROUP BY 1 ORDER BY order_month""")),

    Q("f_case_tiers",
      (s, d) => t(s, d, "orders")
        .select(when(col("o_totalprice") < 100000.0, "small")
          .when(col("o_totalprice") < 300000.0, "mid")
          .otherwise("big").as("tier"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"))
        .orderBy("tier"),
      Some("""SELECT CASE WHEN o_totalprice < 100000.0 THEN 'small'
                          WHEN o_totalprice < 300000.0 THEN 'mid'
                          ELSE 'big' END AS tier, count(*) AS n
             FROM orders GROUP BY 1 ORDER BY tier""")),

    Q("t1_snapshot_diff",
      (s, d) => {
        val o = t(s, d, "orders")
        val old = o.filter(col("o_orderdate") < lit("1999-01-01"))
          .select(col("o_orderkey").as("old_key"), col("o_totalprice").as("old_price"))
        val nw = o.filter(col("o_orderdate") >= lit("1996-01-01"))
          .select(col("o_orderkey").as("new_key"),
            when(col("o_orderstatus") === "O", round(col("o_totalprice") * 1.05, 2))
              .otherwise(col("o_totalprice")).as("new_price"))
        old.join(nw, col("old_key") === col("new_key"), "full_outer")
          .select(when(col("old_key").isNull, "new")
            .when(col("new_key").isNull, "deleted")
            .when(col("old_price") =!= col("new_price"), "updated")
            .otherwise("unchanged").as("change_type"))
          .groupBy("change_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("change_type")
      },
      Some("""SELECT change_type, count(*) AS n FROM (
               SELECT CASE WHEN o.old_key IS NULL THEN 'new'
                           WHEN n.new_key IS NULL THEN 'deleted'
                           WHEN o.old_price <> n.new_price THEN 'updated'
                           ELSE 'unchanged' END AS change_type
               FROM (SELECT o_orderkey AS old_key, o_totalprice AS old_price FROM orders
                     WHERE o_orderdate < TIMESTAMP '1999-01-01') o
               FULL OUTER JOIN (SELECT o_orderkey AS new_key,
                     CASE WHEN o_orderstatus = 'O' THEN round(o_totalprice * 1.05, 2)
                          ELSE o_totalprice END AS new_price FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1996-01-01') n
                 ON o.old_key = n.new_key)
             GROUP BY change_type ORDER BY change_type""")),

    Q("a15_percentiles",
      // Exact interpolated percentiles (median / p95) per group — both
      // engines implement the same C = (n-1)*p linear interpolation
      // (Spark `percentile`, DuckDB `quantile_cont`). The approx_percentile
      // sketch is the 100 TB path; like the HLL entry, its raw values are
      // engine-specific, so the exact form is what the oracle gates.
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5D)"), 2).as("median_price"),
          round(expr("percentile(l_extendedprice, 0.95D)"), 2).as("p95_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 2) AS median_price,
             round(quantile_cont(l_extendedprice, 0.95), 2) AS p95_price,
             count(*) AS n
             FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("a16_rollup",
      // GROUPING SETS family: ROLLUP over (returnflag, linestatus) with
      // grouping_id distinguishing subtotal levels — identical lattice
      // semantics on both engines; NULL group keys rendered as 'ALL' so
      // the hash compare never meets an ambiguous NULL.
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("gid"))
        .orderBy("gid", "returnflag", "linestatus"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n, CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
             FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             ORDER BY gid, returnflag, linestatus""")),

    Q("a18_cube",
      // CUBE completes the GROUPING SETS family (a16 is ROLLUP): all four
      // lattice levels including the column-2-only marginals ROLLUP
      // skips. Same Expand-then-aggregate plan: one pass over the fact
      // table emitting one row per grouping set, partial-aggregated
      // before the single exchange — NOT one scan per lattice level.
      (s, d) => t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 2).as("revenue"), grouping_id().as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("revenue"), col("gid"))
        .orderBy("gid", "returnflag", "linestatus"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n, round(sum(l_extendedprice), 2) AS revenue,
             CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
             FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             ORDER BY gid, returnflag, linestatus""")),

    Q("a19_grouping_sets",
      // Explicit GROUPING SETS closes the lattice family (a16 ROLLUP,
      // a18 CUBE): an arbitrary set list — here the two single-column
      // marginals plus the grand total, i.e. a lattice CUBE contains
      // but ROLLUP cannot express and neither emits alone. Same
      // one-pass Expand-then-aggregate plan as its siblings.
      (s, d) => t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("qty"), grouping_id().as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("qty"), col("gid"))
        .orderBy("gid", "returnflag", "linestatus"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n, round(sum(l_quantity), 2) AS qty,
             CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
             FROM lineitem
             GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             ORDER BY gid, returnflag, linestatus""")),

    Q("w5_sessionize",
      // Sessionization (gaps-and-islands): per-user sessions split at
      // >30 min inactivity — lag for the gap, running sum of session
      // starts for the id, then per-session stats. Both windows and the
      // final groupBy share the user_id partitioning: ONE shuffle total.
      // Timestamp arithmetic in integer MICROseconds on both engines
      // (second-granularity casts round differently across engines).
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts")
        t(s, d, "events").select(col("user_id"), col("ts"))
          .withColumn("gap_us",
            expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w))
          .withColumn("new_sess",
            when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_no", sum("new_sess").over(w))
          .groupBy("user_id", "session_no")
          .agg(count(lit(1)).as("n_events"),
            max(expr("unix_micros(ts)")).as("max_us"),
            min(expr("unix_micros(ts)")).as("min_us"))
          // integer `div`, not `/` (which widens to double in Spark SQL)
          .select(col("user_id"), col("session_no"), col("n_events"),
            expr("(max_us - min_us) div 1000000").as("duration_s"))
          .orderBy("user_id", "session_no")
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
               FROM s)
             SELECT user_id, session_no, count(*) AS n_events,
               CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS BIGINT)
                 AS duration_s
             FROM s2 GROUP BY user_id, session_no
             ORDER BY user_id, session_no""")),

    Q("a_approx_distinct",
      // Scale extension: HLL++ sketch vs exact distinct. At 100 TB this
      // replaces the exact distinct's full shuffle with a fixed-size
      // mergeable sketch per partition. The raw estimate is
      // engine-specific, so the ORACLE-COMPARED columns are the exact
      // count and the sketch's relative error staying inside 3x its
      // configured 2% rsd — each engine checks its OWN sketch against
      // its OWN exact count, and both must say "within bound".
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey"), 0.02).as("n_approx"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * 0.06)
            .as("within_bound"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, n_exact,
             abs(n_approx - n_exact) <= n_exact * 0.06 AS within_bound
             FROM (SELECT l_returnflag,
                     count(DISTINCT l_partkey) AS n_exact,
                     approx_count_distinct(l_partkey) AS n_approx
                   FROM lineitem GROUP BY l_returnflag)
             ORDER BY l_returnflag""")),

    Q("a_hll_manual",
      // The HyperLogLog ALGORITHM itself as a relational program (the
      // engine-native sketch in a_approx_distinct is a black box; this
      // one is auditable and cross-engine EXACT): per value, md5 gives
      // a register index (first byte % 64) and rho = leading-zero count
      // of the next 64 bits + 1 (leading zeros read via regexp — no
      // bit loop); registers keep max(rho); the harmonic sum runs over
      // SCALED INTEGERS (2^(40-M) as BIGINT, empty registers
      // contributing 2^40 exactly), so the only floating-point steps
      // are one literal multiply chain and one division — bit-identical
      // on both engines, no accumulation-order hazard. Small-range
      // (linear counting) correction included. m=64 -> ~13% rsd; the
      // relative error column shows the sketch honest against exact.
      (s, d) => {
        val vals = t(s, d, "lineitem")
          .select(col("l_returnflag").as("flag"), col("l_partkey")).distinct()
          .withColumn("h", md5(col("l_partkey").cast("string")))
          .withColumn("idx", expr("CAST(conv(substring(h, 1, 2), 16, 10) AS INT) % 64"))
          .withColumn("bits", expr("substring(h, 3, 16)"))
          .withColumn("z", length(regexp_extract(col("bits"), "^(0*)", 1)))
          .withColumn("rho", least(
            col("z") * 4 + expr(
              """CASE substring(bits, z + 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                 ELSE 0 END""") + 1,
            lit(40)))
        val est = vals.groupBy("flag", "idx").agg(max("rho").as("m"))
          .groupBy("flag")
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 40 - m)")).as("s_present"),
            count(lit(1)).as("n_regs"))
          .withColumn("v", lit(64) - col("n_regs"))
          .withColumn("s_scaled",
            col("s_present") + col("v") * lit(1099511627776L))
          .withColumn("e_raw", expr(
            "CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0 / s_scaled"))
          .withColumn("est", when(col("e_raw") <= 160.0 && col("v") > 0,
            expr("64.0 * ln(64.0 / v)")).otherwise(col("e_raw")))
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("flag"))
          .agg(countDistinct("l_partkey").as("n_exact"))
          .join(est.select("flag", "est"), Seq("flag"))
          .select(col("flag"), col("n_exact"), round(col("est"), 2).as("n_hll"),
            round(abs(col("est") - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
          .orderBy("flag")
      },
      Some("""WITH vals AS (
               SELECT flag, idx, bits,
                 length(regexp_extract(bits, '^(0*)', 1)) AS z
               FROM (
                 SELECT flag,
                   CAST((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) AS INT)
                     % 64 AS idx,
                   substring(h, 3, 16) AS bits
                 FROM (SELECT DISTINCT l_returnflag AS flag, l_partkey FROM lineitem),
                   LATERAL (SELECT md5(CAST(l_partkey AS VARCHAR)) AS h))),
             rhos AS (
               SELECT flag, idx, least(z * 4 +
                 CASE substring(bits, z + 1, 1)
                   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                   ELSE 0 END + 1, 40) AS rho
               FROM vals),
             regs AS (SELECT flag, idx, max(rho) AS m FROM rhos GROUP BY 1, 2),
             agg AS (
               SELECT flag,
                 CAST(sum(1::BIGINT << (40 - m)) AS BIGINT) AS s_present,
                 count(*) AS n_regs
               FROM regs GROUP BY 1),
             est AS (
               SELECT flag,
                 CASE WHEN e_raw <= 160.0 AND v > 0 THEN 64.0 * ln(64.0 / v)
                      ELSE e_raw END AS est
               FROM (SELECT flag, 64 - n_regs AS v,
                       CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0
                         / (s_present + (64 - n_regs) * 1099511627776) AS e_raw
                     FROM agg)),
             exact AS (
               SELECT l_returnflag AS flag,
                 count(DISTINCT l_partkey) AS n_exact
               FROM lineitem GROUP BY 1)
             SELECT flag, n_exact, round(est, 2) AS n_hll,
               round(abs(est - n_exact) / n_exact, 4) AS rel_err
             FROM exact JOIN est USING (flag)
             ORDER BY flag""")),

    Q("t4_edge_diff",
      // J11/A14 — edge-set diff classified and counted: (custkey ->
      // orderpriority) "edges" in two date windows. ONE full-outer join on
      // the edge key (mirrors ChangeDetector.diffEdges): each side is
      // distinct'd once and the join reuses that hash partitioning —
      // 2 shuffles, vs 4 for the round-1 EXCEPT-both-ways plan. The DuckDB
      // oracle keeps the naive EXCEPT formulation; row-identical.
      (s, d) => {
        val o = t(s, d, "orders")
        def edgesIn(lo: String, hi: String) = o
          .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
          .select(col("o_custkey"), col("o_orderpriority")).distinct()
        val before = edgesIn("1995-01-01", "1998-01-01").withColumn("in_before", lit(true))
        val after = edgesIn("1996-01-01", "1999-01-01").withColumn("in_after", lit(true))
        before.join(after, Seq("o_custkey", "o_orderpriority"), "full_outer")
          .filter(col("in_before").isNull || col("in_after").isNull)
          .withColumn("change_type",
            when(col("in_before").isNull, "added").otherwise("removed"))
          .groupBy("change_type", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy("change_type", "o_orderpriority")
      },
      Some("""WITH before AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders
                WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'),
              after AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'),
              diff AS (
                SELECT *, 'added' AS change_type FROM (SELECT * FROM after EXCEPT SELECT * FROM before)
                UNION ALL
                SELECT *, 'removed' AS change_type FROM (SELECT * FROM before EXCEPT SELECT * FROM after))
              SELECT change_type, o_orderpriority, count(*) AS n FROM diff
              GROUP BY 1, 2 ORDER BY change_type, o_orderpriority""")),

    Q("f15_field_diff",
      // F15/T8 — field-level version diff as exploded (field, old, new)
      // rows; the reference does this in driver Python
      // (query_temporal.py:230-239), here it is a struct-unpivot
      // projection over the full-outer pair.
      (s, d) => {
        val o = t(s, d, "orders")
        // double -> DECIMAL(18,2) -> string: deterministic rendering on
        // both engines (raw double -> string differs in ~0.1% of rows)
        val old = o.filter(col("o_orderdate") < lit("1999-01-01"))
          .select(col("o_orderkey"),
            col("o_orderstatus").as("old_status"),
            col("o_orderpriority").as("old_priority"),
            col("o_totalprice").cast("decimal(18,2)").cast("string").as("old_price"))
        val nw = o.filter(col("o_orderdate") < lit("1999-01-01"))
          .select(col("o_orderkey"),
            when(col("o_totalprice") > 400000.0, "ESCALATED")
              .otherwise(col("o_orderstatus")).as("new_status"),
            col("o_orderpriority").as("new_priority"),
            // additive change: x + 1000 keeps exact 2dp semantics — a
            // multiplicative bump lands on .005 round-half boundaries
            // where Spark (HALF_UP) and DuckDB disagree on ~0.1% of rows
            when(col("o_orderstatus") === "O", col("o_totalprice") + 1000.0)
              .otherwise(col("o_totalprice"))
              .cast("decimal(18,2)").cast("string").as("new_price"))
        old.join(nw, Seq("o_orderkey"))
          .select(col("o_orderkey"), explode(array(
            struct(lit("status").as("field"), col("old_status").as("old_value"),
              col("new_status").as("new_value")),
            struct(lit("priority").as("field"), col("old_priority").as("old_value"),
              col("new_priority").as("new_value")),
            struct(lit("price").as("field"), col("old_price").as("old_value"),
              col("new_price").as("new_value")))).as("d"))
          .select(col("o_orderkey"), col("d.field").as("field"),
            col("d.old_value").as("old_value"), col("d.new_value").as("new_value"))
          .filter(!(col("old_value") <=> col("new_value")))
          .orderBy("o_orderkey", "field")
      },
      Some("""WITH old AS (SELECT o_orderkey, o_orderstatus AS old_status,
                     o_orderpriority AS old_priority,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS old_price
                   FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
              nw AS (SELECT o_orderkey,
                     CASE WHEN o_totalprice > 400000.0 THEN 'ESCALATED'
                          ELSE o_orderstatus END AS new_status,
                     o_orderpriority AS new_priority,
                     CAST(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 1000.0
                          ELSE o_totalprice END AS DECIMAL(18,2)) AS VARCHAR) AS new_price
                   FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
              diffs AS (
                SELECT o.o_orderkey, 'status' AS field, old_status AS old_value, new_status AS new_value
                FROM old o JOIN nw n ON o.o_orderkey = n.o_orderkey
                UNION ALL
                SELECT o.o_orderkey, 'priority', old_priority, new_priority
                FROM old o JOIN nw n ON o.o_orderkey = n.o_orderkey
                UNION ALL
                SELECT o.o_orderkey, 'price', old_price, new_price
                FROM old o JOIN nw n ON o.o_orderkey = n.o_orderkey)
              SELECT o_orderkey, field, old_value, new_value FROM diffs
              WHERE old_value IS DISTINCT FROM new_value
              ORDER BY o_orderkey, field""")),

    Q("perf_salted_agg",
      // Skew-safe two-phase aggregation: a synthetic hot key (every
      // user_id < 50 collapses onto key 0) is salted 8 ways for the
      // partial aggregate, then the salt is folded out. Results are
      // IDENTICAL to the plain groupBy the oracle runs — only the
      // shuffle profile changes (no reducer gets the whole hot key).
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("k", when(col("user_id") < 50, 0L).otherwise(col("user_id")))
          .withColumn("salt", col("event_id") % 8)
        ev.groupBy("k", "salt")
          .agg(count(lit(1)).as("pn"), sum("value").as("pv"))
          .groupBy("k")
          .agg(sum("pn").as("n"), round(sum("pv"), 2).as("total_value"))
          .orderBy("k")
      },
      Some("""SELECT CASE WHEN user_id < 50 THEN 0 ELSE user_id END AS k,
             count(*) AS n, round(sum(value), 2) AS total_value
             FROM events GROUP BY 1 ORDER BY k""")),

    Q("perf_salted_join",
      // Skew-safe REPLICATED (salted) join — the join-side twin of
      // perf_salted_agg's two-phase trick: the same synthetic hot key
      // (user_id < 50 collapses onto key 0, ~a third of the stream),
      // joined to a per-key dimension. A plain shuffle join sends every
      // hot-key fact row to ONE reducer; here the fact side carries an
      // 8-way salt and each dim row is replicated across all 8 salts,
      // so the join key becomes (k, salt) and the hot key spreads over
      // 8 reducers. The shuffle_hash hint keeps the exchange REAL in
      // this catalog run (a 1.5k-row dim would otherwise broadcast and
      // the salt would be inert — the pattern exists precisely for dims
      // ABOVE the broadcast threshold; AQE's skew-join handles sort-
      // merge skew automatically, but replicated salting is the form
      // that also works for hash joins and pre-Spark-3 engines).
      // Results are IDENTICAL to the plain join the oracle runs.
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("k",
            when(col("user_id") < 50, 0L).otherwise(col("user_id")))
          .withColumn("salt", (col("event_id") % 8).cast("int"))
        val dimSalted = t(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment"))
          .withColumn("salt", explode(expr("sequence(0, 7)")))
          .withColumn("salt", col("salt").cast("int"))
        ev.join(dimSalted.hint("shuffle_hash"), Seq("k", "salt"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"),
            round(sum("value"), 2).as("total_value"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_events,
             round(sum(value), 2) AS total_value
             FROM (SELECT CASE WHEN user_id < 50 THEN 0 ELSE user_id END AS k,
                     value
                   FROM events) e
             JOIN customer c ON c.c_custkey = e.k
             GROUP BY 1 ORDER BY 1""")),

    Q("t8_asof_state",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        t(s, d, "events")
          .filter(col("ts") <= lit("2024-01-15 00:00:00"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, event_type FROM (
               SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
             WHERE rn = 1 ORDER BY user_id""")),

    Q("t9_merge_upsert",
      // Delta-style MERGE INTO (graft.temporal.Merge): one statement
      // applies updates (%7 keys: renamed + acctbal bumped), deletes
      // (%11 keys) and inserts (new keyspace at +10M) to the customer
      // state — the general keyed-mutation the reference's loaders run
      // per entity. The operator is ONE full-outer shuffle join on the
      // key; the oracle derives the same post-state RELATIONALLY
      // (update rows + untouched survivors + inserts), so the pin is
      // semantic, not plan-shaped. Update/delete branches are disjoint
      // (%7 excludes %11) — an overlapping unversioned source is the
      // nondeterminism Delta rejects and t10 resolves with versions.
      (s, d) => {
        val cust = t(s, d, "customer")
        val k = col("c_custkey")
        val updates = cust.filter(k % 7 === 0 && k % 11 =!= 0)
          .select(k.as("c_custkey"),
            concat(col("c_name"), lit("*")).as("c_name"),
            col("c_nationkey"),
            (col("c_acctbal") + 1000.0).as("c_acctbal"),
            col("c_mktsegment"))
          .withColumn("op", lit("U"))
        val deletes = cust.filter(k % 11 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"))
          .withColumn("op", lit("D"))
        val inserts = cust.filter(k % 13 === 0)
          .select((k + 10000000L).as("c_custkey"),
            concat(lit("NEW_"), k).as("c_name"),
            col("c_nationkey"),
            lit(0.0).as("c_acctbal"),
            lit("MERGED").as("c_mktsegment"))
          .withColumn("op", lit("I"))
        graft.temporal.Merge.mergeInto(
            cust, updates.unionByName(deletes).unionByName(inserts),
            Seq("c_custkey"), deleteExpr = Some("op = 'D'"))
          .orderBy("c_custkey")
      },
      Some("""WITH updates AS (
               SELECT c_custkey, c_name || '*' AS c_name, c_nationkey,
                 c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
               FROM customer
               WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0),
             inserts AS (
               SELECT c_custkey + 10000000 AS c_custkey,
                 'NEW_' || c_custkey AS c_name, c_nationkey,
                 0.0 AS c_acctbal, 'MERGED' AS c_mktsegment
               FROM customer WHERE c_custkey % 13 = 0)
             SELECT c_custkey, c_name, c_nationkey,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
             FROM (
               SELECT * FROM updates
               UNION ALL
               SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                 c_mktsegment
               FROM customer
               WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 11 <> 0)
                 AND c_custkey % 11 <> 0
               UNION ALL
               SELECT * FROM inserts)
             ORDER BY c_custkey""")),

    Q("t10_merge_cdc",
      // MERGE of a VERSIONED CDC feed — the discipline a change-data
      // stream needs before any MERGE is legal: the feed carries
      // several rows per key (v1 and v2 updates for every %4 key, a v3
      // DELETE for every %8 key) and last-writer-wins dedup (highest
      // version, graft.temporal.Merge versionCol) must pick exactly one
      // action per key first. Post-state: %8 keys gone, surviving %4
      // keys carry the v2 balance, everyone else untouched. The oracle
      // states that end-state DIRECTLY off the base table (one CASE +
      // one WHERE — a completely independent derivation from the
      // window-dedup + full-outer-join plan).
      (s, d) => {
        val cust = t(s, d, "customer")
        val k = col("c_custkey")
        val base = cust.filter(k % 4 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"))
        val v1 = base.withColumn("c_acctbal", col("c_acctbal") + 1.0)
          .withColumn("op", lit("U")).withColumn("v", lit(1L))
        val v2 = base.withColumn("c_acctbal", col("c_acctbal") + 2.0)
          .withColumn("op", lit("U")).withColumn("v", lit(2L))
        val v3 = base.filter(k % 8 === 0)
          .withColumn("op", lit("D")).withColumn("v", lit(3L))
        graft.temporal.Merge.mergeInto(
            cust, v1.unionByName(v2).unionByName(v3),
            Seq("c_custkey"), deleteExpr = Some("op = 'D'"),
            versionCol = Some("v"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey,
               CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 2.0
                    ELSE c_acctbal END AS c_acctbal,
               c_mktsegment
             FROM customer
             WHERE c_custkey % 8 <> 0
             ORDER BY c_custkey""")),

    Q("t11_mv_refresh",
      // Incremental materialized-view maintenance (graft.temporal
      // .Rollup): the per-(user, event_type) rollup is maintained as
      // MERGEABLE state — count, BIGINT micro-unit sums, min, max —
      // and arriving batches fold in without re-reading history; avg
      // derives at read time. Here the corpus splits at a date cut
      // into two "batches", each batch's partial state folds through
      // Rollup.merge, and the ORACLE aggregates the whole table in
      // one pass — passing proves the fold algebra is exactly the
      // direct aggregate (associativity pinned by value, the same
      // contract Spark's map-side combine relies on). Sums integerize
      // per-row BEFORE summation (floor(x*1e4+0.5) -> BIGINT) so no
      // merge order can move a ulp; nonnegative operands keep Spark
      // `div` == DuckDB `//`. One shuffle per batch + one for the
      // fold, all on the same key.
      (s, d) => {
        import graft.temporal.Rollup
        val ev = t(s, d, "events")
        val keys = Seq("user_id", "event_type")
        val cut = "2024-01-15 00:00:00"
        val s1 = Rollup.aggState(ev.filter(col("ts") < lit(cut)), keys, Seq("value"))
        val s2 = Rollup.aggState(ev.filter(col("ts") >= lit(cut)), keys, Seq("value"))
        Rollup.merge(s1, s2, keys, Seq("value"))
          .withColumn("avg_value_e4", expr("sum_value_e4 div n"))
          .select(col("user_id"), col("event_type"), col("n"),
            col("sum_value_e4"), col("min_value"), col("max_value"),
            col("avg_value_e4"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_value_e4,
               min(value) AS min_value, max(value) AS max_value,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                 // count(*) AS BIGINT) AS avg_value_e4
             FROM events GROUP BY user_id, event_type
             ORDER BY user_id, event_type""")),

    Q("t12_time_travel",
      // Snapshot isolation + time travel (graft.temporal.VersionedStore,
      // the Delta/Iceberg version-log shape in miniature): commit the
      // customer base as v1, a MERGE-mutated state (deletes %11, bumps
      // %7 survivors, inserts %13 at +10M) as v2, then diff the two
      // PINNED reads — readVersion(1) is byte-identical to what was
      // committed no matter how many commits landed after it; that
      // isolation is exactly what the diff's v1 leg exercises. The
      // oracle derives the same add/change/remove classification
      // directly from the base table, so the pin is semantic: any
      // version-resolution bug (reading staged data, wrong manifest,
      // gc'd dir) breaks the hash. Diff is ONE full-outer shuffle join
      // on the key; the store round-trips through parquet, where
      // doubles are exact. Scratch dir is cleared per call (bench runs
      // 3x) — values derive only from the sf tables.
      (s, d) => {
        import graft.temporal.VersionedStore
        val root = Q.scratch(s, d, "t12")
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val k = col("c_custkey")
        VersionedStore.commit(s, root, cust, "base")
        val mutated = cust.filter(k % 11 =!= 0)
          .withColumn("c_acctbal",
            when(k % 7 === 0, col("c_acctbal") + 1000.0).otherwise(col("c_acctbal")))
          .unionByName(cust.filter(k % 13 === 0)
            .select((k + 10000000L).as("c_custkey"),
              concat(lit("NEW_"), k).as("c_name"),
              lit(0.0).as("c_acctbal")))
        VersionedStore.commit(s, root, mutated, "merge")
        val v1 = VersionedStore.readVersion(s, root, 1L)
          .select(col("c_custkey"), col("c_acctbal").as("bal_old"))
        val v2 = VersionedStore.readVersion(s, root, 2L)
          .select(col("c_custkey"), col("c_acctbal").as("bal_new"))
        v1.join(v2, Seq("c_custkey"), "full_outer")
          .withColumn("change",
            when(col("bal_old").isNull, lit("ADDED"))
              .when(col("bal_new").isNull, lit("REMOVED"))
              .when(col("bal_old") =!= col("bal_new"), lit("CHANGED"))
              .otherwise(lit("SAME")))
          .groupBy("change")
          .agg(count(lit(1)).as("n"), sum("c_custkey").as("key_sum"))
          .orderBy("change")
      },
      Some("""WITH cls AS (
               SELECT CASE WHEN c_custkey % 11 = 0 THEN 'REMOVED'
                           WHEN c_custkey % 7 = 0 THEN 'CHANGED'
                           ELSE 'SAME' END AS change,
                      c_custkey AS k
               FROM customer
               UNION ALL
               SELECT 'ADDED' AS change, c_custkey + 10000000 AS k
               FROM customer WHERE c_custkey % 13 = 0)
             SELECT change, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS key_sum
             FROM cls GROUP BY change ORDER BY change""")),

    Q("t13_compact_roundtrip",
      // OPTIMIZE / small-file compaction (graft.temporal.Compaction):
      // events land month-partitioned as 8 small files per partition
      // (one per writer task — the accretion pattern every streaming
      // sink produces), compactPartitionedPath bin-packs each partition
      // to its byte target in ONE shuffle job (per-partition salt
      // counts broadcast from the listing; no per-partition driver
      // loop), and the query aggregates the compacted store. The
      // oracle aggregates the RAW events table — passing proves the
      // salted rewrite is row-exact (no drop, no dup) end to end.
      // Sums integerize per-row before the BIGINT sum so accumulation
      // order can't move a ulp. Scratch dir cleared per call.
      // Month (not day) partitions with 8 writer tasks: the semantics
      // — multi-file partitions bin-packed and re-read row-exact —
      // need several files per partition, not the ~2900 tiny files the
      // original day x 32 layout paid 9.5 s of pure file overhead for
      // at sf0.1 (round-13 verdict: shrink the synthetic fragment
      // count, the proof doesn't need that much disk).
      (s, d) => {
        import graft.temporal.Compaction
        val root = Q.scratch(s, d, "t13")
        val ev = t(s, d, "events")
          .withColumn("event_month", date_format(col("ts"), "yyyy-MM"))
          .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
          .withColumn("value_e4",
            expr("cast(floor(value * 10000 + 0.5) as bigint)"))
          .select("event_month", "event_date", "event_id", "user_id",
            "event_type", "value_e4")
        ev.repartition(8).write.partitionBy("event_month").parquet(root)
        Compaction.compactPartitionedPath(s, root, Seq("event_month"))
        s.read.parquet(root)
          .withColumn("event_date", col("event_date").cast("string"))
          .groupBy("event_date")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum("value_e4").as("sum_value_e4"))
          .orderBy("event_date")
      },
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS event_date,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_value_e4
             FROM events GROUP BY 1 ORDER BY 1""")),

    Q("t14_change_feed",
      // Row-level changed-data feed (graft.temporal.ChangeFeed, the
      // Delta CDF shape): one SCD batch against the customer base —
      // deletes %11, updates %7 survivors (+1000.0, an exact IEEE op),
      // inserts %13 at +10M — emits insert / update_preimage /
      // update_postimage / delete ROWS, where the reference's CDC log
      // keeps only per-entity type counts (temporal_loader.py:313-337).
      // Derived from the SAME single full-outer join as applyScd;
      // unchanged rows never leave the join, so the feed is sized by
      // the change rate, not the table. The oracle constructs each
      // image class directly from the base table — fully independent
      // of the hash-diff plan. Doubles stay raw (identical IEEE chain
      // both engines, t9-proven); snapshot_hash never reaches output.
      (s, d) => {
        import graft.temporal.ChangeFeed
        val cust = t(s, d, "customer")
        val k = col("c_custkey")
        def snap(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("snapshot_hash",
            md5(concat_ws("|", col("hubspot_id"), col("bal").cast("string"))))
          .withColumn("is_deleted", lit(false))
        val current = snap(cust.select(
          k.cast("string").as("hubspot_id"), col("c_acctbal").as("bal")))
        val incoming = snap(
          cust.filter(k % 11 =!= 0)
            .select(k.cast("string").as("hubspot_id"),
              when(k % 7 === 0, col("c_acctbal") + 1000.0)
                .otherwise(col("c_acctbal")).as("bal"))
          .unionByName(cust.filter(k % 13 === 0)
            .select((k + 10000000L).cast("string").as("hubspot_id"),
              lit(0.0).as("bal"))))
        ChangeFeed.fromScdBatch(current, incoming, commitVersion = 2L)
          .select(col("hubspot_id"), col("_change_type"), col("bal"),
            col("_commit_version"))
          .orderBy("hubspot_id", "_change_type")
      },
      Some("""WITH feed AS (
               SELECT CAST(c_custkey AS VARCHAR) AS hubspot_id,
                 'delete' AS _change_type, c_acctbal AS bal
               FROM customer WHERE c_custkey % 11 = 0
               UNION ALL
               SELECT CAST(c_custkey AS VARCHAR), 'update_preimage', c_acctbal
               FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
               UNION ALL
               SELECT CAST(c_custkey AS VARCHAR), 'update_postimage',
                 c_acctbal + 1000.0
               FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
               UNION ALL
               SELECT CAST(c_custkey + 10000000 AS VARCHAR), 'insert', 0.0
               FROM customer WHERE c_custkey % 13 = 0)
             SELECT hubspot_id, _change_type, bal,
               CAST(2 AS BIGINT) AS _commit_version
             FROM feed ORDER BY hubspot_id, _change_type""")),

    Q("t15_schema_evolution",
      // Schema evolution across VersionedStore commits (Delta
      // mergeSchema semantics): v1 commits (custkey, name,
      // nationkey:int); v2 commits through commitEvolved with
      // nationkey WIDENED to long, c_acctbal ADDED, and c_name DROPPED
      // by the writer — the store widens, appends, and null-fills
      // (narrowing or a string/number flip would REFUSE before any
      // byte lands; VersionedStoreSpec pins the refusal). readUnion
      // then reads BOTH versions under the union schema, missing
      // columns null, stamped _version — history as one table. The
      // oracle rebuilds the same union straight from the base table,
      // so any mis-merge (wrong null-fill, lost widen, misaligned
      // column) breaks the hash. Money sums integerize per-row to e2
      // before the BIGINT sum (acctbal has 2 true decimals).
      (s, d) => {
        import graft.temporal.VersionedStore
        val root = Q.scratch(s, d, "t15")
        val cust = t(s, d, "customer")
        val k = col("c_custkey")
        VersionedStore.commit(s, root,
          cust.filter(k % 3 === 0)
            .select(k, col("c_name"),
              col("c_nationkey").cast("int").as("c_nationkey")),
          "base")
        VersionedStore.commitEvolved(s, root,
          cust.filter(k % 3 <= 1)
            .select(k, col("c_nationkey").cast("long").as("c_nationkey"),
              col("c_acctbal")),
          "evolve")
        VersionedStore.readUnion(s, root)
          .groupBy("_version")
          .agg(count(lit(1)).as("n"),
            count(col("c_name")).as("n_name"),
            count(col("c_acctbal")).as("n_bal"),
            sum("c_nationkey").as("nk_sum"),
            sum(expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)"))
              .as("bal_e2"))
          .orderBy("_version")
      },
      Some("""WITH u AS (
               SELECT CAST(1 AS BIGINT) AS _version, c_custkey AS k,
                 c_name AS name, CAST(c_nationkey AS BIGINT) AS nk,
                 CAST(NULL AS DOUBLE) AS bal
               FROM customer WHERE c_custkey % 3 = 0
               UNION ALL
               SELECT CAST(2 AS BIGINT), c_custkey, NULL,
                 CAST(c_nationkey AS BIGINT), c_acctbal
               FROM customer WHERE c_custkey % 3 <= 1)
             SELECT _version, CAST(count(*) AS BIGINT) AS n,
               CAST(count(name) AS BIGINT) AS n_name,
               CAST(count(bal) AS BIGINT) AS n_bal,
               CAST(sum(nk) AS BIGINT) AS nk_sum,
               CAST(sum(CAST(floor(bal * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS bal_e2
             FROM u GROUP BY _version ORDER BY _version""")),

    Q("t22_partition_evolution",
      // Partition-spec evolution (eighteenth-proposal #5; the Iceberg
      // capability the t1x family lacked): a table whose OLDER files
      // were written under a BY-YEAR partition spec and newer files
      // under BY-MONTH, queried with one date range that straddles the
      // spec boundary. Planning must prune AT EACH TUPLE'S OWN
      // GRANULARITY — a year tuple partially overlapping the range
      // cannot be pruned and over-reads its out-of-range months (the
      // residual filter trims them; month tuples prune to the exact
      // boundary month) — and the audit PUBLISHES that asymmetry:
      // per spec, partition counts (total/scanned/pruned), rows read
      // at tuple granularity, rows matched after the residual, cents
      // matched. ISO date-prefix strings make tuple overlap a plain
      // string range both engines agree on. The write repartitions by
      // the partition tuple so file layout is one file per tuple —
      // deterministic counts; pruning happens IN-PLAN (Catalyst
      // partition pruning on the directory column), no driver file
      // listing. Oracle recomputes every count straight from the base
      // table; the coarse spec's read >> matched gap vs the fine
      // spec's near-zero over-read is the published claim.
      // Write cost note: the table lands in ONE job partitioned by
      // (spec, p) with the v2 output-committer (task-parallel renames,
      // passed as a write option), and the granularity pair is
      // year->month (14 dirs), NOT month->day (~110 dirs): this
      // container lacks libhadoop, so every partition-dir
      // mkdir/rename forks a chmod (~60 ms, serialized) and wall
      // clock scales with DIRECTORY COUNT, not data (measured 27 s at
      // sf0.001 for the by-day layout — pure commit overhead). Same
      // lever at cluster scale: tuple count and a task-parallel /
      // cloud-optimized committer, never one-dir-at-a-time renames.
      (s, d) => {
        val root = Q.scratch(s, d, "t22")
        val o = t(s, d, "orders").select(col("o_orderdate").as("od"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        o.withColumn("spec",
            when(col("od") < lit("1998-01-01"), lit("year"))
              .otherwise(lit("month")))
          .withColumn("p",
            when(col("spec") === "year",
              date_format(col("od"), "yyyy"))
              .otherwise(date_format(col("od"), "yyyy-MM")))
          .repartition(col("spec"), col("p"))
          .write.mode("overwrite")
          .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
          .partitionBy("spec", "p")
          .parquet(root)
        val (lo, hi) = ("1997-05-15", "1998-03-15")
        def audit(spec: String, plo: String, phi: String) = {
          val all = s.read.parquet(s"$root/spec=$spec")
            .withColumn("p", col("p").cast("string"))
          val scanned = all
            .filter(col("p") >= plo && col("p") <= phi)
            .agg(countDistinct("p").as("n_scanned"),
              count(lit(1)).as("n_rows_read"),
              count(when(col("od") >= lit(lo) && col("od") <= lit(hi),
                lit(1))).as("n_rows_matched"),
              sum(when(col("od") >= lit(lo) && col("od") <= lit(hi),
                col("cents"))).as("cents_matched"))
          val parts = all.select("p").distinct()
            .agg(count(lit(1)).as("n_partitions"))
          parts.crossJoin(scanned)
            .select(lit(spec).as("spec"), col("n_partitions"),
              col("n_scanned"),
              (col("n_partitions") - col("n_scanned")).as("n_pruned"),
              col("n_rows_read"), col("n_rows_matched"),
              col("cents_matched"))
        }
        audit("year", "1997", "1997")
          .unionByName(audit("month", "1998-01", "1998-03"))
          .orderBy("spec")
      },
      Some("""WITH o AS (
                SELECT o_orderdate AS od,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                FROM orders),
              y AS (
                SELECT strftime(CAST(od AS DATE), '%Y') AS p, od, cents
                FROM o WHERE od < TIMESTAMP '1998-01-01'),
              m AS (
                SELECT strftime(CAST(od AS DATE), '%Y-%m') AS p, od, cents
                FROM o WHERE od >= TIMESTAMP '1998-01-01'),
              ys AS (
                SELECT CAST(count(DISTINCT p) AS BIGINT) AS n_partitions,
                  CAST(count(DISTINCT CASE WHEN p >= '1997'
                    AND p <= '1997' THEN p END) AS BIGINT) AS n_scanned,
                  CAST(count(CASE WHEN p >= '1997' AND p <= '1997'
                    THEN 1 END) AS BIGINT) AS n_rows_read,
                  CAST(count(CASE WHEN od >= TIMESTAMP '1997-05-15'
                    AND od <= TIMESTAMP '1998-03-15'
                    AND p >= '1997' AND p <= '1997' THEN 1 END) AS BIGINT)
                    AS n_rows_matched,
                  CAST(sum(CASE WHEN od >= TIMESTAMP '1997-05-15'
                    AND od <= TIMESTAMP '1998-03-15'
                    AND p >= '1997' AND p <= '1997' THEN cents END)
                    AS BIGINT) AS cents_matched
                FROM y),
              ms AS (
                SELECT CAST(count(DISTINCT p) AS BIGINT) AS n_partitions,
                  CAST(count(DISTINCT CASE WHEN p >= '1998-01'
                    AND p <= '1998-03' THEN p END) AS BIGINT) AS n_scanned,
                  CAST(count(CASE WHEN p >= '1998-01'
                    AND p <= '1998-03' THEN 1 END) AS BIGINT)
                    AS n_rows_read,
                  CAST(count(CASE WHEN od >= TIMESTAMP '1997-05-15'
                    AND od <= TIMESTAMP '1998-03-15'
                    AND p >= '1998-01' AND p <= '1998-03' THEN 1 END)
                    AS BIGINT) AS n_rows_matched,
                  CAST(sum(CASE WHEN od >= TIMESTAMP '1997-05-15'
                    AND od <= TIMESTAMP '1998-03-15'
                    AND p >= '1998-01' AND p <= '1998-03' THEN cents
                    END) AS BIGINT) AS cents_matched
                FROM m)
              SELECT 'month' AS spec, n_partitions, n_scanned,
                CAST(n_partitions - n_scanned AS BIGINT) AS n_pruned,
                n_rows_read, n_rows_matched, cents_matched
              FROM ms
              UNION ALL
              SELECT 'year', n_partitions, n_scanned,
                CAST(n_partitions - n_scanned AS BIGINT),
                n_rows_read, n_rows_matched, cents_matched
              FROM ys
              ORDER BY spec""")),

    Q("t23_snapshot_retention",
      // Snapshot-retention vacuum audit (nineteenth-proposal #4) —
      // the EXPIRY half of the table-format family (t13 compaction,
      // t16 merge-on-read deletes, t22 spec evolution): Iceberg's
      // expire_snapshots + remove_orphan_files as pure relational
      // arithmetic over a manifest-shaped reference table. Every
      // order hashes to one of 24 data files; a file's lifecycle is
      // derived deterministically from its index (added at snapshot
      // fid % 6 + 1, superseded 2 + fid % 3 commits later), giving a
      // snapshot->file reference relation with genuine overlap:
      // early-only files, spanning files, late adds. Expiring
      // snapshots 1..5 (the retention horizon keeps 6..8) partitions
      // the files three ways — still referenced by a surviving
      // snapshot (kept), referenced ONLY by expired snapshots (the
      // vacuum set, reclaimable), or added after the horizon —
      // and the audit publishes the exact file counts, row counts,
      // and reclaimable cents. Iceberg semantics, not FS mechanics:
      // the reference relation IS the metadata (a real manifest is a
      // table too), so the audit is one corpus pass (orders -> 24-row
      // file frame) + bounded-frame arithmetic — the same shape at
      // 100 TB, where the manifest stays metadata-sized while the
      // data it indexes does not.
      (s, d) => {
        val files = t(s, d, "orders")
          .select(expr("o_orderkey % 24").as("fid"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("cents"))
          .groupBy("fid").agg(count(lit(1)).as("n_rows"),
            sum("cents").as("f_cents"))
          .withColumn("added", expr("fid % 6 + 1"))
          .withColumn("last_ref", expr("least(added + 1 + fid % 3, 8)"))
        val judged = files
          .withColumn("kept", expr("last_ref >= 6"))
          .withColumn("vacuum", expr("last_ref < 6"))
        judged.agg(
            count(lit(1)).as("n_files"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_files_kept"),
            sum(when(col("vacuum"), 1L).otherwise(0L))
              .as("n_files_vacuum"),
            sum("n_rows").as("rows_total"),
            sum(when(col("kept"), col("n_rows")).otherwise(0L))
              .as("rows_kept"),
            sum(when(col("vacuum"), col("n_rows")).otherwise(0L))
              .as("rows_reclaim"),
            sum(when(col("vacuum"), col("f_cents")).otherwise(0L))
              .as("cents_reclaim"))
          .select(lit(8L).as("n_snapshots"), lit(5L).as("n_expired"),
            col("n_files"), col("n_files_kept"), col("n_files_vacuum"),
            col("rows_total"), col("rows_kept"), col("rows_reclaim"),
            col("cents_reclaim"))
      },
      Some("""WITH files AS (
                SELECT o_orderkey % 24 AS fid,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS f_cents
                FROM orders GROUP BY 1),
              lc AS (
                SELECT fid, n_rows, f_cents, fid % 6 + 1 AS added,
                  least(fid % 6 + 1 + 1 + fid % 3, 8) AS last_ref
                FROM files),
              judged AS (
                SELECT *, last_ref >= 6 AS kept, last_ref < 6 AS vacuum
                FROM lc)
              SELECT CAST(8 AS BIGINT) AS n_snapshots,
                CAST(5 AS BIGINT) AS n_expired,
                CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_files_kept,
                CAST(sum(CASE WHEN vacuum THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_files_vacuum,
                CAST(sum(n_rows) AS BIGINT) AS rows_total,
                CAST(sum(CASE WHEN kept THEN n_rows ELSE 0 END) AS BIGINT)
                  AS rows_kept,
                CAST(sum(CASE WHEN vacuum THEN n_rows ELSE 0 END) AS BIGINT)
                  AS rows_reclaim,
                CAST(sum(CASE WHEN vacuum THEN f_cents ELSE 0 END)
                  AS BIGINT) AS cents_reclaim
              FROM judged""")),

    Q("t16_deletion_vectors",
      // Merge-on-read deletes (graft.temporal.DeletionVectors — Delta
      // deletion vectors / Iceberg positional deletes as a sidecar):
      // customer lands as 8 immutable files, TWO deletes mark rows by
      // predicate (%7 keys, then negative balances — overlapping marks
      // accumulate by append, duplicates harmless under anti-join) and
      // NO data file is rewritten (DeletionVectorsSpec pins
      // byte-identical file state); the read anti-joins the sidecar on
      // (file, _metadata.row_index). The oracle applies the same two
      // predicates to the RAW table — green proves the position-based
      // exclusion is exactly predicate deletion, end to end. At 100 TB
      // this is the 1%-delete-without-rewriting-100% path; write cost
      // is sized by deleted rows, read cost by one sidecar join.
      (s, d) => {
        import graft.temporal.DeletionVectors
        val root = Q.scratch(s, d, "t16")
        t(s, d, "customer").repartition(8).write.parquet(root)
        DeletionVectors.delete(s, root, col("c_custkey") % 7 === 0)
        DeletionVectors.delete(s, root, col("c_acctbal") < 0.0)
        DeletionVectors.read(s, root)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum("c_custkey").as("key_sum"),
            sum(expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)"))
              .as("bal_e2"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c_custkey) AS BIGINT) AS key_sum,
             CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS bal_e2
             FROM customer WHERE c_custkey % 7 <> 0 AND c_acctbal >= 0
             GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Q("t17_join_view",
      // Incremental JOIN-view maintenance (graft.temporal.JoinView —
      // DBToaster/Materialize counting algorithm): the orders⋈customer
      // view initializes from the pre-cutoff state, then ONE refresh
      // applies a both-side batched update — post-cutoff order inserts
      // + %13 order deletes (negative multiplicity) on A, and a
      // segment rebrand on B expressed as delete-old + insert-new —
      // via ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB (the cross term covers an insert
      // meeting its partner's same-batch update: a new AUTOMOBILE
      // order must surface under AUTO2, and does). The ORACLE joins
      // the final states from scratch — green proves the delta
      // algebra converges exactly, deletes included, without ever
      // recomputing the view. Aggregation reads multiplicities
      // (sum(_mult), mult-weighted key sum) so any bag drift breaks
      // the hash. Refresh work is delta-sized: untouched keys bypass
      // the merge against a broadcast touched-key set.
      (s, d) => {
        import graft.temporal.JoinView
        val cutoff = lit("1996-01-01")
        val ord = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey").as("custkey"),
            col("o_orderdate"))
        val aOld = ord.filter(col("o_orderdate") < cutoff)
          .select("custkey", "o_orderkey")
        val b0 = t(s, d, "customer")
          .select(col("c_custkey").as("custkey"),
            col("c_mktsegment").as("seg"))
        val v0 = JoinView.init(aOld, b0, Seq("custkey"))
        val dA = ord.filter(col("o_orderdate") >= cutoff)
          .select("custkey", "o_orderkey").withColumn("_mult", lit(1L))
          .unionByName(aOld.filter(col("o_orderkey") % 13 === 0)
            .withColumn("_mult", lit(-1L)))
        val autoCust = b0.filter(col("seg") === "AUTOMOBILE")
        val dB = autoCust.withColumn("_mult", lit(-1L))
          .unionByName(autoCust.withColumn("seg", lit("AUTO2"))
            .withColumn("_mult", lit(1L)))
        val v1 = JoinView.applyDeltas(v0, aOld, b0, dA, dB, Seq("custkey"))
        v1.groupBy("seg")
          .agg(sum("_mult").as("n"),
            sum(col("o_orderkey") * col("_mult")).as("key_sum"))
          .orderBy("seg")
      },
      Some("""WITH fa AS (
               SELECT o_custkey AS custkey, o_orderkey FROM orders
               WHERE (o_orderdate < TIMESTAMP '1996-01-01'
                      AND o_orderkey % 13 <> 0)
                  OR o_orderdate >= TIMESTAMP '1996-01-01'),
             fb AS (
               SELECT c_custkey AS custkey,
                 CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'AUTO2'
                      ELSE c_mktsegment END AS seg
               FROM customer)
             SELECT seg, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             FROM fa JOIN fb USING (custkey)
             GROUP BY seg ORDER BY seg""")),

    Q("t18_agg_join_view",
      // FULL-QUERY incremental maintenance (graft.temporal.QueryView —
      // DBToaster's higher-order delta): the per-segment (count, price
      // sum) aggregate OVER orders⋈customer maintains from the same
      // both-side batched update as t17 — but through the aggregate
      // delta rule, so the join view is NEVER materialized: the
      // refresh aggregates ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB straight into
      // group-level deltas and folds them into segment-sized state.
      // t17 proves the bag algebra, t11 proves the mergeable-state
      // fold; this row proves their COMPOSITION converges — the oracle
      // computes the aggregate from the final states from scratch.
      // Sums ride Rollup's integer micro-unit discipline (floor(x *
      // 1e4 + 0.5) then BIGINT), so incremental-vs-direct merge order
      // cannot move a ulp. At scale: state is O(groups), refresh is
      // O(delta) — neither is ever O(join).
      (s, d) => {
        import graft.temporal.QueryView
        val cutoff = lit("1996-01-01")
        val ord = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey").as("custkey"),
            col("o_orderdate"), col("o_totalprice"))
        val aOld = ord.filter(col("o_orderdate") < cutoff)
          .select("custkey", "o_orderkey", "o_totalprice")
        val b0 = t(s, d, "customer")
          .select(col("c_custkey").as("custkey"),
            col("c_mktsegment").as("seg"))
        val s0 = QueryView.init(aOld, b0, Seq("custkey"), Seq("seg"),
          Seq("o_totalprice"))
        val dA = ord.filter(col("o_orderdate") >= cutoff)
          .select("custkey", "o_orderkey", "o_totalprice")
          .withColumn("_mult", lit(1L))
          .unionByName(aOld.filter(col("o_orderkey") % 13 === 0)
            .withColumn("_mult", lit(-1L)))
        val autoCust = b0.filter(col("seg") === "AUTOMOBILE")
        val dB = autoCust.withColumn("_mult", lit(-1L))
          .unionByName(autoCust.withColumn("seg", lit("AUTO2"))
            .withColumn("_mult", lit(1L)))
        QueryView.applyDeltas(s0, aOld, b0, dA, dB, Seq("custkey"),
            Seq("seg"), Seq("o_totalprice"))
          .select(col("seg"), col("n"),
            col("sum_o_totalprice_e4").as("price_e4"))
          .orderBy("seg")
      },
      Some("""WITH fa AS (
               SELECT o_custkey AS custkey, o_orderkey, o_totalprice
               FROM orders
               WHERE (o_orderdate < TIMESTAMP '1996-01-01'
                      AND o_orderkey % 13 <> 0)
                  OR o_orderdate >= TIMESTAMP '1996-01-01'),
             fb AS (
               SELECT c_custkey AS custkey,
                 CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'AUTO2'
                      ELSE c_mktsegment END AS seg
               FROM customer)
             SELECT seg, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                 AS BIGINT) AS price_e4
             FROM fa JOIN fb USING (custkey)
             GROUP BY seg ORDER BY seg""")),

    Q("t19_bitemporal",
      // Bitemporal pins (graft.temporal.Bitemporal — valid time x
      // transaction time, SQL:2011 shape over VersionedStore + SCD2
      // intervals): commit v1 = each customer's balance history (1994
      // interval at acctbal, open 1995 interval at acctbal + 100);
      // commit v2 = a RETROACTIVE restatement (%5 keys' 1994 balance
      // corrected down 50) plus a forward extension (%7 keys close the
      // open interval at 1996 and continue at acctbal + 200). Three
      // pins answer the audit questions: as-known-at-v1 effective
      // 1994-06-15 (the pre-restatement belief — snapshot isolation is
      // what keeps it readable AFTER v2 lands), as-known-at-v2
      // effective the same instant (only the %5 restatement moves it),
      // and as-known-at-v2 effective 1996-06-15 (only the %7 forward
      // rows move THAT). The oracle derives all three balances
      // arithmetically from the base table — fully independent of the
      // store/pin machinery, so any version-resolution or interval-
      // predicate bug breaks the hash. Balances roll up in integer
      // micro-units per the Rollup discipline.
      (s, d) => {
        import graft.temporal.{Bitemporal, VersionedStore}
        val root = Q.scratch(s, d, "t19")
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        val k = col("c_custkey")
        val iv1 = cust.select(k, col("c_nationkey"),
          lit("1994-01-01").as("valid_from"),
          lit("1995-01-01").as("valid_to"),
          col("c_acctbal").as("bal"))
          .unionByName(cust.select(k, col("c_nationkey"),
            lit("1995-01-01").as("valid_from"),
            lit(null).cast("string").as("valid_to"),
            (col("c_acctbal") + 100.0).as("bal")))
        VersionedStore.commit(s, root, iv1, "t1-history")
        val iv2 = iv1
          .withColumn("bal",
            when(k % 5 === 0 && col("valid_from") === "1994-01-01",
              col("bal") - 50.0).otherwise(col("bal")))
          .withColumn("valid_to",
            when(k % 7 === 0 && col("valid_from") === "1995-01-01",
              lit("1996-01-01")).otherwise(col("valid_to")))
          .unionByName(cust.filter(k % 7 === 0)
            .select(k, col("c_nationkey"),
              lit("1996-01-01").as("valid_from"),
              lit(null).cast("string").as("valid_to"),
              (col("c_acctbal") + 200.0).as("bal")))
        VersionedStore.commit(s, root, iv2, "t2-restatement")
        def rolled(tv: Long, v: String, out: String) =
          Bitemporal.asKnownAt(s, root, tv, lit(v))
            .groupBy("c_nationkey")
            .agg(count(lit(1)).as(s"n_$out"),
              sum(expr("CAST(floor(bal * 10000 + 0.5) AS BIGINT)"))
                .as(out))
        rolled(1L, "1994-06-15", "bal94_v1_e4")
          .join(rolled(2L, "1994-06-15", "bal94_v2_e4"), Seq("c_nationkey"))
          .join(rolled(2L, "1996-06-15", "bal96_v2_e4"), Seq("c_nationkey"))
          .select(col("c_nationkey"), col("n_bal94_v1_e4").as("n"),
            col("bal94_v1_e4"), col("bal94_v2_e4"), col("bal96_v2_e4"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT))
                 AS BIGINT) AS bal94_v1_e4,
               CAST(sum(CAST(floor(
                 (CASE WHEN c_custkey % 5 = 0 THEN c_acctbal - 50.0
                       ELSE c_acctbal END) * 10000 + 0.5) AS BIGINT))
                 AS BIGINT) AS bal94_v2_e4,
               CAST(sum(CAST(floor(
                 (CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 200.0
                       ELSE c_acctbal + 100.0 END) * 10000 + 0.5) AS BIGINT))
                 AS BIGINT) AS bal96_v2_e4
             FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")),

    Q("t20_expectations",
      // Data-quality expectations (graft.operators.Expectations — the
      // DLT expect / expect_or_drop / expect_or_fail ladder + Delta
      // CHECK constraints in one codegen'd pass): four rules over
      // orders — a fail gate with zero violations (so enforce()'s
      // batch-refusal path is EXERCISED and passes), three drop rules
      // (one violated by the price tail, one by the driver's planted
      // o_orderkey = 0 row, one clean), one warn rule violated by
      // every non-final order. The output derives the
      // per-rule counts from the metrics aggregate but the
      // _pass_/_quarantine_ rows from the SPLIT FRAMES themselves, and
      // _quar_marks_ sums size(_violations) over quarantine — so a
      // green row proves the split matches the rule set AND the
      // per-row annotation (incl. warn names recorded on quarantined
      // rows), not just that counting works. NULL semantics are SQL
      // CHECK (null passes); both engines agree because the oracle's
      // NOT(pred) FILTER drops nulls identically.
      (s, d) => {
        import graft.operators.Expectations
        import graft.operators.Expectations.Expectation
        val rules = Seq(
          Expectation("key_nonneg", col("o_orderkey") >= 0, "fail"),
          Expectation("key_positive", col("o_orderkey") > 0, "drop"),
          Expectation("prio_known", col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW"), "drop"),
          Expectation("status_final", col("o_orderstatus") === "F",
            "warn"),
          Expectation("total_cap", col("o_totalprice") < 400000.0,
            "drop"))
        val a = Expectations.enforce(t(s, d, "orders"), rules)
        a.metrics.filter(!col("rule").isin("_pass_", "_quarantine_"))
          .unionByName(a.pass.agg(count(lit(1)).as("violations"))
            .select(lit("_pass_").as("rule"), lit("rows").as("mode"),
              col("violations")))
          .unionByName(a.quarantine.agg(count(lit(1)).as("violations"))
            .select(lit("_quarantine_").as("rule"),
              lit("rows").as("mode"), col("violations")))
          .unionByName(a.quarantine
            .agg(coalesce(sum(size(col(Expectations.ViolCol))),
              lit(0)).cast("long").as("violations"))
            .select(lit("_quar_marks_").as("rule"),
              lit("marks").as("mode"), col("violations")))
          .orderBy("rule")
      },
      Some("""WITH o AS (SELECT
               (o_orderkey >= 0) AS keynn_ok,
               (o_orderkey > 0) AS key_ok,
               (o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
                 '4-NOT SPECIFIED','5-LOW')) AS prio_ok,
               (o_orderstatus = 'F') AS status_ok,
               (o_totalprice < 400000.0) AS cap_ok
             FROM orders)
             SELECT rule, mode, violations FROM (
               SELECT 'key_nonneg' AS rule, 'fail' AS mode,
                 CAST(count(*) FILTER (WHERE NOT keynn_ok) AS BIGINT)
                   AS violations FROM o
               UNION ALL SELECT 'key_positive', 'drop',
                 CAST(count(*) FILTER (WHERE NOT key_ok) AS BIGINT) FROM o
               UNION ALL SELECT 'prio_known', 'drop',
                 CAST(count(*) FILTER (WHERE NOT prio_ok) AS BIGINT) FROM o
               UNION ALL SELECT 'status_final', 'warn',
                 CAST(count(*) FILTER (WHERE NOT status_ok) AS BIGINT) FROM o
               UNION ALL SELECT 'total_cap', 'drop',
                 CAST(count(*) FILTER (WHERE NOT cap_ok) AS BIGINT) FROM o
               UNION ALL SELECT '_pass_', 'rows',
                 CAST(count(*) FILTER (WHERE keynn_ok AND key_ok
                   AND prio_ok AND cap_ok) AS BIGINT) FROM o
               UNION ALL SELECT '_quarantine_', 'rows',
                 CAST(count(*) FILTER (WHERE NOT (keynn_ok AND key_ok
                   AND prio_ok AND cap_ok)) AS BIGINT) FROM o
               UNION ALL SELECT '_quar_marks_', 'marks',
                 CAST(count(*) FILTER (WHERE NOT keynn_ok)
                   + count(*) FILTER (WHERE NOT key_ok)
                   + count(*) FILTER (WHERE NOT prio_ok)
                   + count(*) FILTER (WHERE NOT cap_ok)
                   + count(*) FILTER (WHERE NOT status_ok
                       AND NOT (keynn_ok AND key_ok AND prio_ok
                         AND cap_ok))
                   AS BIGINT) FROM o
             ) ORDER BY rule""")),

    Q("t21_wap",
      // Write-Audit-Publish (graft.temporal.Wap — Iceberg's WAP
      // pattern over VersionedStore + Expectations): the clean batch
      // (keys > 0) stages, audits against the STAGED FILES, and
      // publishes by RENAME as v1; the raw batch stages next and the
      // driver's planted o_orderkey = 0 row trips the drop-mode gate —
      // the publish aborts all-or-nothing (the Iceberg shape: a
      // snapshot publishes whole or not at all), the staged dir is
      // swept, and the store still reads exactly the v1 rows. Warn
      // violations count without blocking. Every output value derives
      // from the base table in the oracle, so a wrong gate decision,
      // a leaked abort, or a publish rewrite breaks the hash.
      (s, d) => {
        import graft.temporal.{VersionedStore, Wap}
        import graft.operators.Expectations.Expectation
        import s.implicits._
        val root = Q.scratch(s, d, "t21")
        val ord = t(s, d, "orders")
        val rules = Seq(
          Expectation("key_positive", col("o_orderkey") > 0, "drop"),
          Expectation("status_final", col("o_orderstatus") === "F",
            "warn"))
        val w1 = Wap.writeAuditPublish(s, root,
          ord.filter(col("o_orderkey") > 0), rules, "clean")
        val w2 = Wap.writeAuditPublish(s, root, ord, rules, "raw")
        def of(m: Array[(String, String, Long)], rule: String): Long =
          m.collectFirst { case (`rule`, _, n) => n }.get
        Seq(
          ("published_version", w1.published.get),
          ("aborted_publishes", if (w2.published.isEmpty) 1L else 0L),
          ("abort_sample_rows", w2.quarantineSample.length.toLong),
          ("store_versions",
            VersionedStore.versions(s, root).size.toLong),
          ("abort_gate_violations", of(w2.metrics, "key_positive")),
          ("warn_violations_published", of(w1.metrics, "status_final")))
          .toDF("metric", "n")
          .unionByName(VersionedStore.read(s, root)
            .agg(count(lit(1)).as("n"))
            .select(lit("store_rows").as("metric"), col("n")))
          .orderBy("metric")
      },
      Some("""SELECT metric, n FROM (
               SELECT 'abort_gate_violations' AS metric,
                 CAST(count(*) FILTER (WHERE NOT (o_orderkey > 0))
                   AS BIGINT) AS n FROM orders
               UNION ALL SELECT 'abort_sample_rows',
                 CAST(least(count(*) FILTER (WHERE NOT (o_orderkey > 0)),
                   100) AS BIGINT) FROM orders
               UNION ALL SELECT 'aborted_publishes', CAST(1 AS BIGINT)
               UNION ALL SELECT 'published_version', CAST(1 AS BIGINT)
               UNION ALL SELECT 'store_rows',
                 CAST(count(*) FILTER (WHERE o_orderkey > 0) AS BIGINT)
                 FROM orders
               UNION ALL SELECT 'store_versions', CAST(1 AS BIGINT)
               UNION ALL SELECT 'warn_violations_published',
                 CAST(count(*) FILTER (WHERE NOT (o_orderstatus = 'F')
                   AND o_orderkey > 0) AS BIGINT) FROM orders)
             ORDER BY metric""")),

    Q("w16_seasonal_decomp",
      // Classical additive seasonal decomposition (operators/Seasonal)
      // of the hourly event-count series: centered +/-12h RANGE-frame
      // moving average as trend (gaps shrink the count, never
      // misalign), per-hour-of-day mean of the detrended series as
      // the seasonal index. Everything integer-exact (the w9
      // discipline): counts are BIGINT, the only divisions are single
      // correctly-rounded IEEE ops under floor, so both engines land
      // on identical 1e-4-unit indices — no running-average
      // retraction drift, no float accumulation order anywhere.
      (s, d) => {
        import graft.operators.Seasonal
        val hourly = t(s, d, "events")
          .groupBy(expr("unix_micros(ts) div 3600000000").as("slot"))
          .agg(count(lit(1)).as("y"))
        Seasonal.seasonalIndex(Seasonal.detrend(hourly, 24, 12))
          .select(col("phase"), col("n_slots"), col("seasonal_e4"))
          .orderBy("phase")
      },
      Some("""WITH hourly AS (
               SELECT epoch_us(ts) // 3600000000 AS slot,
                 CAST(count(*) AS BIGINT) AS y
               FROM events GROUP BY 1),
             det AS (
               SELECT slot % 24 AS phase, y,
                 CAST(floor((sum(y) OVER w * 10000.0)
                   / count(*) OVER w) AS BIGINT) AS trend_e4
               FROM hourly
               WINDOW w AS (ORDER BY slot
                 RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING))
             SELECT phase, CAST(count(*) AS BIGINT) AS n_slots,
               CAST(floor(CAST(sum(y * 10000 - trend_e4) AS DOUBLE)
                 / count(*)) AS BIGINT) AS seasonal_e4
             FROM det GROUP BY phase ORDER BY phase""")),

    Q("w6_event_deltas",
      // lag/lead family: per-user inter-event gaps (seconds since the
      // previous event) rolled up to per-user cadence stats. Gap average
      // is integer floor division on both engines — a double avg can land
      // on .005 half-way points where Spark (HALF_UP) and DuckDB round
      // differently. The lag window and the rollup share the user_id
      // partitioning: one shuffle end-to-end.
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        t(s, d, "events")
          .withColumn("gap_us",
            expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w))
          .filter(col("gap_us").isNotNull)
          .withColumn("gap_s", expr("gap_us div 1000000"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            sum("gap_s").as("sum_gap"),
            max("gap_s").as("max_gap_s"))
          .select(col("user_id"), col("n_gaps"),
            expr("sum_gap div n_gaps").as("avg_gap_s"), col("max_gap_s"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_gaps,
             CAST(sum(gap_s) AS BIGINT) // count(*) AS avg_gap_s,
             max(gap_s) AS max_gap_s
             FROM (SELECT user_id,
                     (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id))) // 1000000 AS gap_s
                   FROM events)
             WHERE gap_s IS NOT NULL
             GROUP BY user_id ORDER BY user_id""")),

    Q("a17_pivot",
      // Pivot / cross-tab: order counts by priority x status as columns.
      // Spark's relational pivot with an EXPLICIT value list — without it
      // the operator needs an extra distinct-values job and the output
      // schema becomes data-dependent, which no 100 TB pipeline wants.
      // DuckDB oracle is the portable FILTER formulation.
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
             FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Q("j11_asof_attr",
      // As-of join (attribution): each purchase matched to the latest
      // STRICTLY-earlier click of the same user. Spark has no ASOF JOIN;
      // the scalable shape is the union trick — tag both streams, one
      // window per user ordered by (ts, kind), last(click, ignoreNulls)
      // over the preceding frame. ONE shuffle on user_id, no range-join
      // explosion (a range-condition join would fan out per click).
      // kind orders purchases BEFORE clicks at equal ts, which is exactly
      // strict `<`; clicks are pre-deduped to one per (user, ts) because
      // ASOF semantics are ambiguous when several right rows share the
      // boundary timestamp. The DuckDB oracle uses its native ASOF JOIN.
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        val tagged = purchases
          .select(col("user_id"), col("ts"), lit(0).as("kind"),
            col("event_id"), lit(null).cast("long").as("click_id"))
          .unionByName(clicks.select(col("user_id"), col("ts"), lit(1).as("kind"),
            lit(null).cast("long").as("event_id"), col("click_id")))
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged
          .withColumn("ci", when(col("kind") === 1,
            struct(col("ts").as("cts"), col("click_id").as("cid"))))
          .withColumn("last_click", last(col("ci"), ignoreNulls = true).over(w))
          .filter(col("kind") === 0)
          .withColumn("gap_s",
            expr("(unix_micros(ts) - unix_micros(last_click.cts)) div 1000000"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), tsFmtSpark).as("ts"),
            col("last_click.cid").as("click_id"),
            date_format(col("last_click.cts"), tsFmtSpark).as("click_ts"),
            col("gap_s"))
          .orderBy("event_id")
      },
      Some("""WITH clicks AS (SELECT user_id, ts, max(event_id) AS click_id
                FROM events WHERE event_type = 'click' GROUP BY 1, 2),
              purchases AS (SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'purchase')
              SELECT p.event_id AS event_id, p.user_id AS user_id,
                strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                c.click_id AS click_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
              FROM purchases p ASOF LEFT JOIN clicks c
                ON p.user_id = c.user_id AND p.ts > c.ts
              ORDER BY event_id""")),

    Q("j12_asof_native",
      // The SAME as-of attribution as j11, but through the custom
      // operator ladder (graft.plans.AsOfJoin: logical node ->
      // AsOfJoinStrategy -> AsOfJoinExec): one streaming merge pass per
      // co-partitioned sorted partition with O(1) state, instead of the
      // union + window + filter trio. Same one-shuffle cost, no window
      // buffering, and the driver gate holds it to the identical DuckDB
      // ASOF JOIN oracle as the declarative twin.
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.plans.AsOf.join(purchases, clicks, "user_id", "ts")
          .withColumn("gap_s",
            expr("(unix_micros(ts) - unix_micros(r_ts)) div 1000000"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), tsFmtSpark).as("ts"),
            col("r_click_id").as("click_id"),
            date_format(col("r_ts"), tsFmtSpark).as("click_ts"),
            col("gap_s"))
          .orderBy("event_id")
      },
      Some("""WITH clicks AS (SELECT user_id, ts, max(event_id) AS click_id
                FROM events WHERE event_type = 'click' GROUP BY 1, 2),
              purchases AS (SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'purchase')
              SELECT p.event_id AS event_id, p.user_id AS user_id,
                strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                c.click_id AS click_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
              FROM purchases p ASOF LEFT JOIN clicks c
                ON p.user_id = c.user_id AND p.ts > c.ts
              ORDER BY event_id""")),

    Q("w7_ntile_buckets",
      // Distribution windows (ntile / percent_rank / cume_dist)
      // complete the window family: customer spend quartiles WITHIN
      // each nation. The window partitions by nation — the scale-sound
      // shape (a global ntile would funnel the corpus through one
      // partition chain; a partitioned one shares the single
      // nation-keyed shuffle). Ordering includes the unique custkey so
      // there are no window peers: percent_rank and cume_dist become
      // exact rationals of the row number, deterministic on both
      // engines; ntile follows the SQL-standard front-loaded bucket
      // fill. Ranking reads the ROUNDED spend so a last-ulp sum
      // difference cannot reorder rows. The rank fractions are emitted
      // as floor(x * 1e4 + 0.5) INTEGERS, not round(x, 4): k/n lands on
      // exact half-boundaries (the sf1 sweep measured 42 flipped rows
      // with round — Spark's BigDecimal HALF_UP vs DuckDB's scaled
      // multiply), while the floor expression is the identical IEEE
      // chain on both engines.
      (s, d) => {
        val spend = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(round(sum("o_totalprice"), 2).as("spend"))
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("spend").desc, col("o_custkey").asc)
        spend.join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("nationkey"), col("o_custkey").as("custkey"),
            col("spend"),
            ntile(4).over(w).as("quartile"),
            floor(percent_rank().over(w) * lit(10000) + lit(0.5))
              .cast("long").as("pct_rank_e4"),
            floor(cume_dist().over(w) * lit(10000) + lit(0.5))
              .cast("long").as("cume_e4"))
          .orderBy("nationkey", "quartile", "custkey")
      },
      Some("""WITH spend AS (
               SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
               FROM orders GROUP BY 1)
             SELECT c_nationkey AS nationkey, o_custkey AS custkey, spend,
               ntile(4) OVER w AS quartile,
               CAST(floor(percent_rank() OVER w * 10000 + 0.5) AS BIGINT)
                 AS pct_rank_e4,
               CAST(floor(cume_dist() OVER w * 10000 + 0.5) AS BIGINT)
                 AS cume_e4
             FROM spend JOIN customer ON o_custkey = c_custkey
             WINDOW w AS (PARTITION BY c_nationkey ORDER BY spend DESC, o_custkey)
             ORDER BY nationkey, quartile, custkey""")),

    Q("a_quantile_sketch",
      // Mergeable quantile sketch via deterministic bottom-k ROW
      // sampling (the DataSketches "uniform sample -> order statistic"
      // estimator; KLL's compaction is aggregation-order-dependent and
      // randomized, so it can never hash-match an oracle — bottom-k by
      // a content hash is order-independent, mergeable by keeping the
      // k smallest of a union, and bit-identical on both engines): per
      // return flag, the 64 rows with smallest md5-derived 48-bit hash
      // form the sample (ties broken by value then hash — full
      // determinism), the q-th order statistic of the sample estimates
      // the q-quantile of l_extendedprice, and the audit joins each
      // estimate back to the full group for its EXACT rank in integer
      // ppm — err_ppm is the honest O(1/sqrt(k)) rank error on record.
      // Scale shape: per-group rank<=k (WindowGroupLimit-bounded, the
      // w2 discipline), then a 9-row broadcast join for the audit pass.
      (s, d) => {
        val k = 64
        val li = t(s, d, "lineitem").select(
          col("l_returnflag").as("flag"),
          col("l_extendedprice").as("v"),
          expr("CAST(conv(substring(md5(concat_ws('|', l_orderkey, l_partkey, l_suppkey)), 1, 12), 16, 10) AS BIGINT)")
            .as("h"))
        val wH = Window.partitionBy("flag").orderBy(col("h").asc, col("v").asc)
        val sample = li.withColumn("rn", row_number().over(wH))
          .filter(col("rn") <= k).drop("rn")
        val wV = Window.partitionBy("flag").orderBy(col("v").asc, col("h").asc)
        val ranked = sample.withColumn("vr", row_number().over(wV))
        val est = Seq(25, 50, 75).map { q =>
          ranked.filter(col("vr") === (q * k / 100))
            .select(col("flag"), lit(q).as("q"), col("v").as("est"))
        }.reduce(_.unionByName(_))
        val totals = li.groupBy("flag").agg(count(lit(1)).as("n"))
        li.join(broadcast(est), Seq("flag"))
          .groupBy("flag", "q", "est")
          .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("n_le"))
          .join(totals, Seq("flag"))
          .withColumn("rank_ppm", expr("(1000000 * n_le) div n"))
          .withColumn("err_ppm", expr("abs((1000000 * n_le) div n - q * 10000)"))
          .select("flag", "q", "est", "rank_ppm", "err_ppm")
          .orderBy("flag", "q")
      },
      Some {
        val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(hx, $i, 1)) - 1)"
        val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""WITH lh AS (
              SELECT flag, v, $h48 AS h FROM (
                SELECT l_returnflag AS flag, l_extendedprice AS v,
                  md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                      CAST(l_partkey AS VARCHAR) || '|' ||
                      CAST(l_suppkey AS VARCHAR)) AS hx
                FROM lineitem)),
            smp AS (
              SELECT flag, v, h FROM (
                SELECT flag, v, h, row_number() OVER (
                    PARTITION BY flag ORDER BY h, v) AS rn FROM lh)
              WHERE rn <= 64),
            ranked AS (
              SELECT flag, v, row_number() OVER (
                  PARTITION BY flag ORDER BY v, h) AS vr FROM smp),
            est AS (
              SELECT flag, 25 AS q, v AS est FROM ranked WHERE vr = 16
              UNION ALL
              SELECT flag, 50 AS q, v AS est FROM ranked WHERE vr = 32
              UNION ALL
              SELECT flag, 75 AS q, v AS est FROM ranked WHERE vr = 48),
            tot AS (SELECT flag, CAST(count(*) AS BIGINT) AS n
                    FROM lh GROUP BY 1),
            r AS (
              SELECT e.flag, e.q, e.est,
                CAST(sum(CASE WHEN l.v <= e.est THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_le
              FROM est e JOIN lh l ON l.flag = e.flag
              GROUP BY 1, 2, 3)
            SELECT r.flag, r.q, r.est,
              CAST((1000000 * n_le) // n AS BIGINT) AS rank_ppm,
              CAST(abs((1000000 * n_le) // n - q * 10000) AS BIGINT) AS err_ppm
            FROM r JOIN tot USING (flag) ORDER BY flag, q"""
      }),

    Q("a_kmv_distinct",
      // K-minimum-values distinct sketch (Bar-Yossef et al.) — the
      // third auditable cardinality sketch next to a_approx_distinct
      // (engine-native) and a_hll_manual (register HLL). KMV keeps the
      // k smallest hash values of a set; with hashes uniform on
      // [0, 2^48), distinct ~ (k-1) * 2^48 / h_(k) — and unlike HLL the
      // sketch supports set union/intersection by merging value lists,
      // which is why dedup planners carry it. Everything here is
      // integer-exact: the 48-bit hash rebuilds from md5 hex on both
      // engines, the estimator is one BIGINT division, the error column
      // an integer ppm. k = 16 -> ~25% rsd, honest in err_ppm. Scale
      // shape: one distinct, then a per-group sort ranking only for the
      // kth element (the same per-group ordered shape as w2); at fleet
      // scale the per-partition top-k pre-aggregation variant applies.
      (s, d) => {
        val w = Window.partitionBy("flag").orderBy(col("h").asc)
        // r16: ONE spread + distinct pass feeds both the sketch and the
        // exact audit — the old shape scanned lineitem twice, and the
        // second pass's countDistinct partial ran on the scan's (single
        // effective) split. n_exact per flag IS the distinct-pair count
        // per flag, value-identical to countDistinct(l_partkey).
        val vals = t(s, d, "lineitem")
            .select(col("l_returnflag").as("flag"), col("l_partkey"))
          .distinct().cutLineage()
        val kth = vals
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
          .select("flag", "h").distinct()
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 16)
          .select(col("flag"), col("h").as("kth"))
        vals
          .groupBy(col("flag"))
          .agg(count(lit(1)).as("n_exact"))
          .join(kth, Seq("flag"))
          .withColumn("est_kmv", expr("(15 * 281474976710656L) div kth"))
          .withColumn("err_ppm",
            expr("(1000000 * abs(est_kmv - n_exact)) div n_exact"))
          .select("flag", "n_exact", "kth", "est_kmv", "err_ppm")
          .orderBy("flag")
      },
      Some {
        // DuckDB has no base-16 conv: rebuild the 48-bit value nibble by
        // nibble (the x_cms_estimate technique, 12 hex chars).
        val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
        val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""WITH vals AS (
              SELECT DISTINCT l_returnflag AS flag, l_partkey FROM lineitem),
            hs AS (
              SELECT DISTINCT flag, $h48 AS h FROM (
                SELECT flag, md5(CAST(l_partkey AS VARCHAR)) AS h FROM vals)),
            kth AS (
              SELECT flag, h AS kth FROM (
                SELECT flag, h, row_number() OVER (
                    PARTITION BY flag ORDER BY h) AS rn
                FROM hs)
              WHERE rn = 16),
            ex AS (SELECT l_returnflag AS flag,
                     CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
                   FROM lineitem GROUP BY 1)
            SELECT ex.flag, ex.n_exact, kth.kth,
              CAST((15 * 281474976710656) // kth AS BIGINT) AS est_kmv,
              CAST((1000000 * abs((15 * 281474976710656) // kth - n_exact))
                // n_exact AS BIGINT) AS err_ppm
            FROM ex JOIN kth USING (flag) ORDER BY ex.flag"""
      }),

    Q("w8_forward_fill",
      // Time-grid forward fill (gap filling): per user, an hour grid
      // spanning their activity, each empty slot carrying the last
      // observed value forward — the standard densification step for
      // sensor/metric series before feature windows. Values are
      // snapped to integer cents ONCE at the event (floor(v*100+0.5)
      // of the stored double — deterministic), so the filled series
      // and its per-user sums are pure BIGINT — no float accumulation
      // across slots. Scale shape: the grid explode is span-bounded
      // (one row per user-hour), the per-slot argmax and the
      // forward-fill window share the user_id partitioning, and the
      // final rollup returns one row per user.
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("unix_micros(ts) div 3600000000").as("slot"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v_e2"))
        val wSlot = Window.partitionBy("user_id", "slot")
          .orderBy(col("ts").desc, col("event_id").desc)
        val obs = ev.withColumn("rn", row_number().over(wSlot))
          .filter(col("rn") === 1).select("user_id", "slot", "v_e2")
        val grid = ev.groupBy("user_id")
          .agg(min("slot").as("mins"), max("slot").as("maxs"))
          .select(col("user_id"), explode(expr("sequence(mins, maxs)")).as("slot"))
        val wFf = Window.partitionBy("user_id").orderBy("slot")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(obs, Seq("user_id", "slot"), "left")
          .withColumn("ff", last("v_e2", ignoreNulls = true).over(wFf))
          .withColumn("is_filled",
            (col("v_e2").isNull && col("ff").isNotNull).cast("int"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_slots"), count("v_e2").as("n_obs"),
            sum("is_filled").as("n_filled"), sum("ff").as("sum_ff_e2"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
               SELECT user_id, ts, event_id,
                 epoch_us(ts) // 3600000000 AS slot,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2
               FROM events),
             obs AS (
               SELECT user_id, slot, v_e2 FROM (
                 SELECT *, row_number() OVER (
                     PARTITION BY user_id, slot
                     ORDER BY ts DESC, event_id DESC) AS rn
                 FROM ev)
               WHERE rn = 1),
             bounds AS (SELECT user_id, min(slot) AS mins, max(slot) AS maxs
                        FROM ev GROUP BY 1),
             grid AS (SELECT user_id, unnest(range(mins, maxs + 1)) AS slot
                      FROM bounds),
             j AS (SELECT g.user_id, g.slot, obs.v_e2
                   FROM grid g LEFT JOIN obs USING (user_id, slot)),
             f AS (SELECT *, last_value(v_e2 IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY slot
                     ROWS UNBOUNDED PRECEDING) AS ff
                   FROM j)
             SELECT user_id, CAST(count(*) AS BIGINT) AS n_slots,
               CAST(count(v_e2) AS BIGINT) AS n_obs,
               CAST(sum(CASE WHEN v_e2 IS NULL AND ff IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
               CAST(sum(ff) AS BIGINT) AS sum_ff_e2
             FROM f GROUP BY user_id ORDER BY user_id""")),

    Q("a_kmv_union",
      // KMV MERGEABILITY — the property that makes the sketch a
      // distributed primitive: the global sketch is just the k smallest
      // of the UNION of the per-group sketches' values (never the raw
      // data), so per-partition/per-source sketches combine with a
      // union + top-k, exactly how a 1000-executor distinct-count
      // rolls up. Built here from a_kmv_distinct's three per-flag
      // sketches; the global estimate is audited against the exact
      // corpus-wide distinct count, all BIGINT.
      (s, d) => {
        val wF = Window.partitionBy("flag").orderBy(col("h").asc)
        // r16: shared spread + distinct frame (see a_kmv_distinct) — the
        // corpus-wide exact distinct now counts the distinct partkeys of
        // the (flag, partkey) frame instead of re-scanning lineitem with
        // a single-split countDistinct partial.
        val vals = t(s, d, "lineitem")
            .select(col("l_returnflag").as("flag"), col("l_partkey"))
          .distinct().cutLineage()
        val sketches = vals
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
          .select("flag", "h").distinct()
          .withColumn("rn", row_number().over(wF))
          .filter(col("rn") <= 16)
        val wG = Window.orderBy(col("h").asc) // 48 sketch values, not the corpus
        val merged = sketches.select("h").distinct()
          .withColumn("grn", row_number().over(wG))
          .filter(col("grn") === 16)
          .select(col("h").as("kth"))
        vals.select("l_partkey").distinct()
          .agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(merged))
          .withColumn("est_kmv", expr("(15 * 281474976710656L) div kth"))
          .withColumn("err_ppm",
            expr("(1000000 * abs(est_kmv - n_exact)) div n_exact"))
          .select("n_exact", "kth", "est_kmv", "err_ppm")
      },
      Some {
        val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
        val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""WITH vals AS (
              SELECT DISTINCT l_returnflag AS flag, l_partkey FROM lineitem),
            hs AS (
              SELECT DISTINCT flag, $h48 AS h FROM (
                SELECT flag, md5(CAST(l_partkey AS VARCHAR)) AS h FROM vals)),
            sk AS (
              SELECT flag, h FROM (
                SELECT flag, h, row_number() OVER (
                    PARTITION BY flag ORDER BY h) AS rn
                FROM hs)
              WHERE rn <= 16),
            mg AS (
              SELECT h AS kth FROM (
                SELECT h, row_number() OVER (ORDER BY h) AS grn
                FROM (SELECT DISTINCT h FROM sk))
              WHERE grn = 16),
            ex AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
                   FROM lineitem)
            SELECT n_exact, kth,
              CAST((15 * 281474976710656) // kth AS BIGINT) AS est_kmv,
              CAST((1000000 * abs((15 * 281474976710656) // kth - n_exact))
                // n_exact AS BIGINT) AS err_ppm
            FROM ex CROSS JOIN mg"""
      }),

    Q("a_hll_union",
      // HLL MERGEABILITY — a_kmv_union's twin for the register sketch:
      // the union of HLL sketches is the REGISTER-WISE MAX of the
      // per-group register tables (never the raw data), which is how
      // per-partition distinct sketches combine up a cluster's
      // aggregation tree. Built from a_hll_manual's three per-flag
      // register tables; the merged estimate runs the identical
      // scaled-integer harmonic arithmetic and is audited against the
      // exact corpus-wide distinct.
      (s, d) => {
        val vals = t(s, d, "lineitem")
          .select(col("l_returnflag").as("flag"), col("l_partkey")).distinct()
          .withColumn("h", md5(col("l_partkey").cast("string")))
          .withColumn("idx", expr("CAST(conv(substring(h, 1, 2), 16, 10) AS INT) % 64"))
          .withColumn("bits", expr("substring(h, 3, 16)"))
          .withColumn("z", length(regexp_extract(col("bits"), "^(0*)", 1)))
          .withColumn("rho", least(
            col("z") * 4 + expr(
              """CASE substring(bits, z + 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                 ELSE 0 END""") + 1,
            lit(40)))
        val perFlag = vals.groupBy("flag", "idx").agg(max("rho").as("m"))
        val merged = perFlag.groupBy("idx").agg(max("m").as("m"))
        val est = merged.agg(
            sum(expr("shiftleft(CAST(1 AS BIGINT), 40 - m)")).as("s_present"),
            count(lit(1)).as("n_regs"))
          .withColumn("v", lit(64) - col("n_regs"))
          .withColumn("s_scaled",
            col("s_present") + col("v") * lit(1099511627776L))
          .withColumn("e_raw", expr(
            "CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0 / s_scaled"))
          .withColumn("est", when(col("e_raw") <= 160.0 && col("v") > 0,
            expr("64.0 * ln(64.0 / v)")).otherwise(col("e_raw")))
        t(s, d, "lineitem")
          .agg(countDistinct("l_partkey").as("n_exact"))
          .crossJoin(broadcast(est.select("est")))
          .select(col("n_exact"), round(col("est"), 2).as("n_hll"),
            round(abs(col("est") - col("n_exact")) / col("n_exact"), 4)
              .as("rel_err"))
      },
      Some("""WITH vals AS (
               SELECT flag, idx, bits,
                 length(regexp_extract(bits, '^(0*)', 1)) AS z
               FROM (
                 SELECT flag,
                   CAST((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) AS INT)
                     % 64 AS idx,
                   substring(h, 3, 16) AS bits
                 FROM (SELECT DISTINCT l_returnflag AS flag, l_partkey FROM lineitem),
                   LATERAL (SELECT md5(CAST(l_partkey AS VARCHAR)) AS h))),
             rhos AS (
               SELECT flag, idx, least(z * 4 +
                 CASE substring(bits, z + 1, 1)
                   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                   ELSE 0 END + 1, 40) AS rho
               FROM vals),
             regs AS (SELECT flag, idx, max(rho) AS m FROM rhos GROUP BY 1, 2),
             merged AS (SELECT idx, max(m) AS m FROM regs GROUP BY 1),
             agg AS (
               SELECT CAST(sum(1::BIGINT << (40 - m)) AS BIGINT) AS s_present,
                 count(*) AS n_regs
               FROM merged),
             est AS (
               SELECT CASE WHEN e_raw <= 160.0 AND v > 0
                           THEN 64.0 * ln(64.0 / v)
                      ELSE e_raw END AS est
               FROM (SELECT 64 - n_regs AS v,
                       CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0
                         / (s_present + (64 - n_regs) * 1099511627776) AS e_raw
                     FROM agg)),
             exact AS (
               SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
               FROM lineitem)
             SELECT n_exact, round(est, 2) AS n_hll,
               round(abs(est - n_exact) / n_exact, 4) AS rel_err
             FROM exact CROSS JOIN est""")),

    Q("w9_anomaly_hours",
      // Per-user anomalous-hour detection with INTEGER z-scores: an
      // hour is anomalous when its event count sits more than 3 sigma
      // above that user's hourly mean. The 3-sigma test cross-
      // multiplies the variance instead of dividing —
      //   (c*n - sum)^2 > 9 * (n*sum_sq - sum^2)  [and c*n > sum]
      // — so mean and variance never materialize as floats and the
      // whole detector is integer-exact on any engine (counts are
      // integers; that is the trick). The stats window and the rollup
      // share the user_id partitioning: one shuffle. The SQUARED terms
      // are computed in DECIMAL(38,0)/HUGEINT (round-12 verdict #7):
      // (c*n - s)^2 and s^2 are quadratic in a user's event volume, so
      // a hot key at a 100x corpus could pass 2^63 while every test SF
      // stays far below it — widened, the guard never wraps silently.
      (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(col("user_id"),
            expr("unix_micros(ts) div 3600000000").as("slot"))
          .agg(count(lit(1)).as("c"))
        val wU = Window.partitionBy("user_id")
        hourly
          .withColumn("n", count(lit(1)).over(wU))
          .withColumn("s", sum("c").over(wU))
          .withColumn("ss", sum(expr("c * c")).over(wU))
          .withColumn("anom", (expr("c * n > s") &&
            expr("CAST(c * n - s AS DECIMAL(38,0)) * (c * n - s)" +
              " > 9 * (CAST(n AS DECIMAL(38,0)) * ss" +
              " - CAST(s AS DECIMAL(38,0)) * s)")).cast("int"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_hours"), max("c").as("max_c"),
            sum("anom").as("n_anomalous"))
          .orderBy("user_id")
      },
      Some("""WITH hourly AS (
               SELECT user_id, epoch_us(ts) // 3600000000 AS slot,
                 CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
             st AS (
               SELECT *, CAST(count(*) OVER w AS BIGINT) AS n,
                 CAST(sum(c) OVER w AS BIGINT) AS s,
                 CAST(sum(c * c) OVER w AS BIGINT) AS ss
               FROM hourly WINDOW w AS (PARTITION BY user_id))
             SELECT user_id, CAST(count(*) AS BIGINT) AS n_hours,
               CAST(max(c) AS BIGINT) AS max_c,
               CAST(sum(CASE WHEN c * n > s
                         AND CAST(c * n - s AS HUGEINT) * (c * n - s)
                           > 9 * (CAST(n AS HUGEINT) * ss
                             - CAST(s AS HUGEINT) * s)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
             FROM st GROUP BY user_id ORDER BY user_id""")),

    Q("a_kmv_intersect",
      // KMV INTERSECTION by inclusion-exclusion — the sketch algebra a
      // segmentation query runs without touching raw data: est(A∩N) =
      // est(A) + est(N) - est(A∪N), every term a per-flag or merged
      // k-th-minimum estimate (the a_kmv_union machinery), audited
      // against the exact two-flag intersection. All BIGINT; the
      // estimate can exceed the true count (inclusion-exclusion
      // amplifies both sketches' errors — the audit column is the
      // point: intersection sketching is the WEAK spot of KMV, and a
      // deployment should see the measured error before trusting it).
      (s, d) => {
        val wF = Window.partitionBy("flag").orderBy(col("h").asc)
        // r16: shared spread + distinct frame (see a_kmv_distinct) — the
        // sketch chain and the exact-intersection audit both read it.
        val vals = t(s, d, "lineitem")
            .filter(col("l_returnflag").isin("A", "N"))
            .select(col("l_returnflag").as("flag"), col("l_partkey"))
          .distinct().cutLineage()
        val sketches = vals
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
          .select("flag", "h").distinct()
          .withColumn("rn", row_number().over(wF))
          .filter(col("rn") <= 16)
          .cutLineage() // read by the per-flag kths AND the merged kth
        val perFlag = sketches.filter(col("rn") === 16)
          .select(col("flag"), expr("(15 * 281474976710656L) div h").as("est"))
        val wG = Window.orderBy(col("h").asc) // 32 sketch values, not the corpus
        val estU = sketches.select("h").distinct()
          .withColumn("grn", row_number().over(wG))
          .filter(col("grn") === 16)
          .select(expr("(15 * 281474976710656L) div h").as("est_union"))
        val exact = vals
          .groupBy("l_partkey").agg(count(lit(1)).as("nf"))
          .filter(col("nf") === 2)
          .agg(count(lit(1)).as("n_exact_intersect"))
        broadcast(perFlag.groupBy()
            .agg(max(when(col("flag") === "A", col("est"))).as("est_a"),
              max(when(col("flag") === "N", col("est"))).as("est_n")))
          .crossJoin(broadcast(estU))
          .crossJoin(exact)
          .withColumn("est_intersect", expr("est_a + est_n - est_union"))
          .withColumn("err_ppm", expr(
            "(1000000 * abs(est_intersect - n_exact_intersect)) div n_exact_intersect"))
          .select("est_a", "est_n", "est_union", "est_intersect",
            "n_exact_intersect", "err_ppm")
      },
      Some {
        val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
        val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""WITH vals AS (
              SELECT DISTINCT l_returnflag AS flag, l_partkey FROM lineitem
              WHERE l_returnflag IN ('A', 'N')),
            hs AS (
              SELECT DISTINCT flag, $h48 AS h FROM (
                SELECT flag, md5(CAST(l_partkey AS VARCHAR)) AS h FROM vals)),
            sk AS (
              SELECT flag, h, rn FROM (
                SELECT flag, h, row_number() OVER (
                    PARTITION BY flag ORDER BY h) AS rn
                FROM hs)
              WHERE rn <= 16),
            pf AS (
              SELECT flag, CAST((15 * 281474976710656) // h AS BIGINT) AS est
              FROM sk WHERE rn = 16),
            mg AS (
              SELECT CAST((15 * 281474976710656) // h AS BIGINT) AS est_union
              FROM (
                SELECT h, row_number() OVER (ORDER BY h) AS grn
                FROM (SELECT DISTINCT h FROM sk))
              WHERE grn = 16),
            ex AS (
              SELECT CAST(count(*) AS BIGINT) AS n_exact_intersect FROM (
                SELECT l_partkey FROM vals GROUP BY l_partkey
                HAVING count(*) = 2)),
            ab AS (
              SELECT max(CASE WHEN flag = 'A' THEN est END) AS est_a,
                max(CASE WHEN flag = 'N' THEN est END) AS est_n
              FROM pf)
            SELECT est_a, est_n, est_union,
              CAST(est_a + est_n - est_union AS BIGINT) AS est_intersect,
              n_exact_intersect,
              CAST((1000000 * abs(est_a + est_n - est_union
                - n_exact_intersect)) // n_exact_intersect AS BIGINT)
                AS err_ppm
            FROM ab CROSS JOIN mg CROSS JOIN ex"""
      }),

    Q("a_kmv_anotb",
      // Set-DIFFERENCE estimation from sketches — the DataSketches
      // theta a-not-b operation (Dasgupta et al.), completing the KMV
      // set algebra next to a_kmv_union/a_kmv_intersect, and
      // structurally DIFFERENT from inclusion-exclusion: instead of
      // composing three cardinality estimates (whose errors add), the
      // sketch SAMPLES are filtered directly — keep A's retained
      // hashes below theta = min(theta_A, theta_B) that do not appear
      // in B's sample, then est = |kept| * 2^48 / theta. That is the
      // "active in A, never in B" segmentation question answered from
      // two k-entry sketches without touching raw data (order-key sets:
      // the part-key sets are near-identical under both flags, so the
      // difference would be ~0 and the err column undefined). Both
      // directions ship in one row (symmetric difference = their sum),
      // each audited against the exact difference count; all BIGINT
      // (48-bit md5 hashes, one integer division per estimate).
      (s, d) => {
        val wF = Window.partitionBy("flag").orderBy(col("h").asc)
        // r16: shared distinct frame (see a_kmv_distinct).
        val vals = t(s, d, "lineitem")
          .filter(col("l_returnflag").isin("A", "N"))
          .select(col("l_returnflag").as("flag"), col("l_orderkey"))
          .distinct().cutLineage()
        val sk = vals
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(l_orderkey AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
          .select("flag", "h").distinct()
          .withColumn("rn", row_number().over(wF))
          .filter(col("rn") <= 16)
          .cutLineage()
        val theta = broadcast(sk.filter(col("rn") === 16)
          .agg(min("h").as("theta"))) // min of the two per-flag 16th mins
        def retained(a: String, b: String) = sk.filter(col("flag") === a)
          .join(sk.filter(col("flag") === b).select("h"), Seq("h"), "left_anti")
          .crossJoin(theta).filter(col("h") < col("theta"))
          .agg(count(lit(1)).as(s"n_ret_$a$b"))
        val exact = vals
          .groupBy("l_orderkey")
          .agg(max(when(col("flag") === "A", 1).otherwise(0)).as("ia"),
            max(when(col("flag") === "N", 1).otherwise(0)).as("in_"))
          .agg(sum(expr("CASE WHEN ia = 1 AND in_ = 0 THEN 1 ELSE 0 END"))
              .as("n_exact_an"),
            sum(expr("CASE WHEN in_ = 1 AND ia = 0 THEN 1 ELSE 0 END"))
              .as("n_exact_na"))
        broadcast(retained("A", "N")).crossJoin(broadcast(retained("N", "A")))
          .crossJoin(broadcast(theta)).crossJoin(exact)
          .withColumn("est_an", expr("n_ret_AN * 281474976710656L div theta"))
          .withColumn("est_na", expr("n_ret_NA * 281474976710656L div theta"))
          .withColumn("err_an_ppm",
            expr("(1000000 * abs(est_an - n_exact_an)) div n_exact_an"))
          .withColumn("err_na_ppm",
            expr("(1000000 * abs(est_na - n_exact_na)) div n_exact_na"))
          .select("theta", "n_ret_AN", "n_ret_NA", "est_an", "est_na",
            "n_exact_an", "n_exact_na", "err_an_ppm", "err_na_ppm")
      },
      Some {
        val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
        val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""WITH vals AS (
              SELECT DISTINCT l_returnflag AS flag, l_orderkey FROM lineitem
              WHERE l_returnflag IN ('A', 'N')),
            hs AS (
              SELECT DISTINCT flag, $h48 AS h FROM (
                SELECT flag, md5(CAST(l_orderkey AS VARCHAR)) AS h FROM vals)),
            sk AS MATERIALIZED (
              SELECT flag, h, rn FROM (
                SELECT flag, h, row_number() OVER (
                    PARTITION BY flag ORDER BY h) AS rn
                FROM hs)
              WHERE rn <= 16),
            th AS (SELECT CAST(min(h) AS BIGINT) AS theta FROM sk
                   WHERE rn = 16),
            ran AS (
              SELECT CAST(count(*) AS BIGINT) AS n_ret_AN FROM sk a, th
              WHERE a.flag = 'A' AND a.h < th.theta
                AND NOT EXISTS (SELECT 1 FROM sk b
                                WHERE b.flag = 'N' AND b.h = a.h)),
            rna AS (
              SELECT CAST(count(*) AS BIGINT) AS n_ret_NA FROM sk a, th
              WHERE a.flag = 'N' AND a.h < th.theta
                AND NOT EXISTS (SELECT 1 FROM sk b
                                WHERE b.flag = 'A' AND b.h = a.h)),
            ex AS (
              SELECT CAST(sum(CASE WHEN ia = 1 AND ina = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_exact_an,
                CAST(sum(CASE WHEN ina = 1 AND ia = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_exact_na
              FROM (
                SELECT l_orderkey,
                  max(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS ia,
                  max(CASE WHEN flag = 'N' THEN 1 ELSE 0 END) AS ina
                FROM vals GROUP BY l_orderkey))
            SELECT theta, n_ret_AN, n_ret_NA,
              CAST(n_ret_AN * 281474976710656 // theta AS BIGINT) AS est_an,
              CAST(n_ret_NA * 281474976710656 // theta AS BIGINT) AS est_na,
              n_exact_an, n_exact_na,
              CAST((1000000 * abs(n_ret_AN * 281474976710656 // theta
                - n_exact_an)) // n_exact_an AS BIGINT) AS err_an_ppm,
              CAST((1000000 * abs(n_ret_NA * 281474976710656 // theta
                - n_exact_na)) // n_exact_na AS BIGINT) AS err_na_ppm
            FROM th, ran, rna, ex"""
      }),

    Q("w19_isotonic",
      // Isotonic (monotone) regression of each event type's daily mean
      // value (operators/Isotonic) — the calibration/monotone-trend
      // fit, computed through the Robertson-Wright-Dykstra MINIMAX
      // identity fit_i = max_{j<=i} min_{l>=i} wavg(j..l) instead of
      // the inherently sequential PAV sweep: two window passes over
      // the interval-average frame, embarrassingly parallel, and
      // SPAN-bounded (the pair count is days^2 per series — corpus
      // growth changes the daily sums, never the pair count). Interval
      // averages quantize once to floored integer micro-units on exact
      // BIGINT prefix sums, and because floor commutes with min/max
      // the published fit is EXACTLY floor(1e6 * exact rational PAV) —
      // IsotonicSpec pins that equality against a BigInt-rational PAV.
      // Published: per-type pool structure (n_pools = distinct fitted
      // levels) + fit range + checksum.
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type").as("key"),
            expr("unix_micros(ts) div 86400000000").as("pos"))
          .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
              .as("y_e2"),
            count(lit(1)).as("w"))
        graft.operators.Isotonic.fitE6(daily)
          .groupBy(col("key").as("event_type"))
          .agg(count(lit(1)).as("n_days"),
            countDistinct("fit_e6").as("n_pools"),
            min("fit_e6").as("fit_min_e6"),
            max("fit_e6").as("fit_max_e6"),
            sum("fit_e6").as("sum_fit_e6"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
               SELECT event_type AS key, epoch_us(ts) // 86400000000 AS pos,
                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS y_e2,
                 CAST(count(*) AS BIGINT) AS w
               FROM events GROUP BY 1, 2),
             pre AS (
               SELECT key, pos,
                 CAST(sum(y_e2) OVER o AS BIGINT) AS ps,
                 CAST(sum(w) OVER o AS BIGINT) AS pc,
                 CAST(sum(y_e2) OVER o - y_e2 AS BIGINT) AS ps0,
                 CAST(sum(w) OVER o - w AS BIGINT) AS pc0
               FROM daily WINDOW o AS (PARTITION BY key ORDER BY pos
                 ROWS UNBOUNDED PRECEDING)),
             pairs AS MATERIALIZED (
               -- pmod-floor division: DuckDB // truncates toward zero,
               -- and a negative-valued series needs a true floor
               SELECT key, j, l,
                 (num - (num % den + den) % den) // den AS av_e6
               FROM (
                 SELECT j.key, j.pos AS j, l.pos AS l,
                   1000000 * (l.ps - j.ps0) AS num,
                   l.pc - j.pc0 AS den
                 FROM pre j JOIN pre l
                   ON j.key = l.key AND j.pos <= l.pos)),
             m AS MATERIALIZED (
               SELECT key, j, l AS pos,
                 min(av_e6) OVER (PARTITION BY key, j ORDER BY l DESC
                   ROWS UNBOUNDED PRECEDING) AS m
               FROM pairs),
             fit AS (SELECT key, pos, CAST(max(m) AS BIGINT) AS fit_e6
                     FROM m GROUP BY 1, 2)
             SELECT key AS event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(count(DISTINCT fit_e6) AS BIGINT) AS n_pools,
               CAST(min(fit_e6) AS BIGINT) AS fit_min_e6,
               CAST(max(fit_e6) AS BIGINT) AS fit_max_e6,
               CAST(sum(fit_e6) AS BIGINT) AS sum_fit_e6
             FROM fit GROUP BY key ORDER BY event_type""")),

    Q("w20_theilsen",
      // Theil-Sen robust trend estimation per event type — the
      // median-of-pairwise-slopes regressor (Theil 1950; Sen 1968)
      // that tolerates up to ~29% outliers where least squares
      // follows them: over each type's MONTHLY event totals, every
      // (month_i, month_j) pair contributes slope (y_j - y_i)/(x_j -
      // x_i), and the published trend is the exact integer MEDIAN of
      // those slopes in floored ppm — all BIGINT (the floored-ppm
      // quantization happens per pair, the lower-middle median is a
      // row_number pick, no float anywhere). The OLS slope ships next
      // to it (n*Sxy - Sx*Sy over n*Sxx - Sx^2, exact cross-multiplied
      // integer sufficient statistics, one floored division to ppm) so
      // the robustness gap is visible in the row. Scale shape: the
      // pair frame is SPAN-bounded (months^2 per type, ~300 pairs —
      // corpus growth changes monthly totals, never the pair count);
      // the per-type median is a months^2-sized window.
      (s, d) => {
        val monthly = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 2592000000000").as("m"))
          .agg(count(lit(1)).as("y"))
        val wT = Window.partitionBy("event_type")
        val a = monthly.select(col("event_type"), col("m").as("xi"),
          col("y").as("yi"))
        val b = monthly.select(col("event_type"), col("m").as("xj"),
          col("y").as("yj"))
        val slopes = a.join(b, Seq("event_type"))
          .filter(col("xi") < col("xj"))
          .withColumn("num", expr("1000000 * (yj - yi)"))
          .withColumn("den", col("xj") - col("xi"))
          .withColumn("slope_ppm",
            expr("(num - pmod(num, den)) div den"))
        val wS = Window.partitionBy("event_type")
          .orderBy(col("slope_ppm"), col("xi"), col("xj"))
        val ts_ = slopes
          .withColumn("rn", row_number().over(wS))
          .withColumn("np", count(lit(1)).over(wT))
          .filter(col("rn") === expr("(np + 1) div 2"))
          .select(col("event_type"), col("np").as("n_pairs"),
            col("slope_ppm").as("theilsen_ppm"))
        val ols = monthly
          .withColumn("n", count(lit(1)).over(wT))
          .groupBy("event_type")
          .agg(max("n").as("n_months"),
            sum("m").as("sx"), sum("y").as("sy"),
            sum(expr("m * y")).as("sxy"), sum(expr("m * m")).as("sxx"))
          .withColumn("onum", expr("1000000 * (n_months * sxy - sx * sy)"))
          .withColumn("oden", expr("n_months * sxx - sx * sx"))
          .withColumn("ols_ppm",
            expr("(onum - pmod(onum, oden)) div oden"))
          .select("event_type", "n_months", "ols_ppm")
        ols.join(ts_, Seq("event_type"))
          .select("event_type", "n_months", "n_pairs", "theilsen_ppm",
            "ols_ppm")
          .orderBy("event_type")
      },
      Some("""WITH monthly AS (
               SELECT event_type, epoch_us(ts) // 2592000000000 AS m,
                 CAST(count(*) AS BIGINT) AS y
               FROM events GROUP BY 1, 2),
             slopes AS (
               -- true FLOOR division (DuckDB // truncates toward zero
               -- and slope numerators go negative): subtract the
               -- non-negative pmod remainder first
               SELECT a.event_type, a.m AS xi, b.m AS xj,
                 CAST((1000000 * (b.y - a.y)
                     - ((1000000 * (b.y - a.y)) % (b.m - a.m)
                        + (b.m - a.m)) % (b.m - a.m))
                   // (b.m - a.m) AS BIGINT) AS slope_ppm
               FROM monthly a JOIN monthly b
                 ON a.event_type = b.event_type AND a.m < b.m),
             med AS (
               SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
                 slope_ppm AS theilsen_ppm
               FROM (
                 SELECT event_type, slope_ppm,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY slope_ppm, xi, xj) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS np
                 FROM slopes)
               WHERE rn = (np + 1) // 2),
             ols AS (
               SELECT event_type, n_months,
                 CAST((onum - (onum % oden + oden) % oden) // oden
                   AS BIGINT) AS ols_ppm
               FROM (
                 SELECT event_type, CAST(count(*) AS BIGINT) AS n_months,
                   CAST(1000000 * (count(*) * sum(m * y)
                     - sum(m) * sum(y)) AS HUGEINT) AS onum,
                   CAST(count(*) * sum(m * m) - sum(m) * sum(m)
                     AS HUGEINT) AS oden
                 FROM monthly GROUP BY event_type))
             SELECT ols.event_type, n_months, n_pairs, theilsen_ppm,
               ols_ppm
             FROM ols JOIN med ON ols.event_type = med.event_type
             ORDER BY ols.event_type""")),

    Q("a_linreg_gd",
      // A model TRAINING loop as a bit-exact relational program —
      // full-batch gradient descent for least squares (predict
      // l_extendedprice from l_quantity), the template for any
      // distributed trainer: per iteration ONE map-side-combinable
      // aggregate computes the exact gradient, a 1-row broadcast
      // carries the updated weights into the next pass, the corpus is
      // never collected. Everything is INTEGER: y quantizes once to
      // e4 units, weights live in e4 units, per-row residuals and
      // gradient contributions are BIGINT products, the learning rate
      // is 1/1024 applied as two floored integer divisions (pmod
      // floor-div — Spark's div truncates toward zero and residuals
      // go negative) — so a 1000-executor run, this run, and the
      // DuckDB oracle's unrolled replay land on identical weights at
      // every iteration; no libm call anywhere (the reason this is
      // least squares and not logistic: exp() is only 1-ulp-faithful
      // and could flip a quantization boundary). Published: the full
      // 8-iteration trajectory (weights + mean absolute residual —
      // monotone decreasing on this data, visible in the rows).
      (s, d) => {
        val spark = s
        import spark.implicits._
        val data = t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("q"),
            expr("CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)")
              .as("y_e4"))
        def fdiv(num: String, den: String) =
          s"($num - pmod($num, $den)) div ($den)"
        var params = Seq(1).toDF("__one")
          .select(lit(0L).as("w1"), lit(0L).as("w0"), lit(0).as("iter"))
        var hist = Vector.empty[org.apache.spark.sql.DataFrame]
        (1 to 8).foreach { i =>
          val g = data.crossJoin(broadcast(params))
            .withColumn("r", expr("w1 * q + w0 - y_e4"))
            .agg(sum(expr("r * q")).as("g1"), sum("r").as("g0"),
              sum(abs(col("r"))).as("sae"), count(lit(1)).as("n"),
              max("w1").as("w1"), max("w0").as("w0"))
          params = g.select(
            expr(s"w1 - ${fdiv(fdiv("g1", "n"), "1024")}").as("w1"),
            expr(s"w0 - ${fdiv(fdiv("g0", "n"), "1024")}").as("w0"),
            lit(i).as("iter"))
          hist = hist :+ params.crossJoin(
            g.select(expr(s"${fdiv("sae", "n")}").as("mae_e4")))
            .select(col("iter"), col("w1").as("w1_e4"),
              col("w0").as("w0_e4"), col("mae_e4"))
        }
        hist.reduce(_ unionByName _).orderBy("iter")
      },
      Some {
        // DuckDB `//` TRUNCATES toward zero (-7 // 2 = -3), so true
        // floor division needs the same pmod shift as the Spark side:
        // subtract the non-negative remainder, then the exact-multiple
        // `//` is the floored quotient — HUGEINT-safe (a float
        // floor(a/b) would lose exactness past 2^53).
        def fdiv(num: String, den: String) =
          s"((($num) - ((($num) % ($den) + ($den)) % ($den))) // ($den))"
        val iters = (1 to 8).map { i =>
          s"""g$i AS (
                SELECT CAST(sum((w1 * q + w0 - y_e4) * q) AS HUGEINT) AS g1,
                  CAST(sum(w1 * q + w0 - y_e4) AS HUGEINT) AS g0,
                  CAST(sum(abs(w1 * q + w0 - y_e4)) AS HUGEINT) AS sae,
                  CAST(count(*) AS BIGINT) AS n
                FROM lr_data, p${i - 1}),
              p$i AS (
                SELECT CAST(w1 - ${fdiv(fdiv("g1", "n"), "1024")} AS BIGINT)
                    AS w1,
                  CAST(w0 - ${fdiv(fdiv("g0", "n"), "1024")} AS BIGINT) AS w0,
                  CAST(${fdiv("sae", "n")} AS BIGINT) AS mae_e4
                FROM g$i, p${i - 1})"""
        }.mkString(",\n")
        val rows = (1 to 8).map(i =>
          s"SELECT $i AS iter, w1 AS w1_e4, w0 AS w0_e4, mae_e4 FROM p$i")
          .mkString("\n UNION ALL ")
        s"""WITH lr_data AS MATERIALIZED (
              SELECT CAST(l_quantity AS BIGINT) AS q,
                CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS y_e4
              FROM lineitem),
            p0 AS (SELECT CAST(0 AS HUGEINT) AS w1, CAST(0 AS HUGEINT) AS w0,
                     CAST(0 AS BIGINT) AS mae_e4),
            $iters
            SELECT iter, CAST(w1_e4 AS BIGINT) AS w1_e4,
              CAST(w0_e4 AS BIGINT) AS w0_e4,
              CAST(mae_e4 AS BIGINT) AS mae_e4
            FROM ($rows) ORDER BY iter"""
      }),

    Q("a_leverage",
      // Influence diagnostics for the GD model (ninth-proposal #3):
      // leverage and Cook's distance for a_linreg_gd's 2-parameter fit
      // via the EXACT rational 2x2 inverse of X^T X — for the design
      // [1, q], h_i = (Sqq - 2 q_i Sq + n q_i^2) / (n Sqq - Sq^2),
      // pure integer sufficient statistics; Cook's D_i = r_i^2 h_i /
      // (p s^2 (1 - h_i)^2) with p = 2, s^2 = SSE/(n-2), r_i the
      // RE-TRAINED GD model's residual (the documented deviation from
      // textbook Cook's OLS residuals: the bit-exact 8-iteration
      // a_linreg_gd loop is replayed verbatim, so the diagnosed model
      // IS the one the catalog ships). This is the catalog's first
      // DECIMAL(38,0)/HUGEINT pairing — the centered sums exceed
      // int64 at sf1 (SSE ~ 9.5e21 at sf0.01 already): every sum and
      // product that can pass 2^63 is computed in DECIMAL(38,0) on
      // Spark and HUGEINT in DuckDB, with identical staged floor
      // divisions (documented monotone truncation, the w22
      // discipline), scale-invariant by construction:
      //   t12   = (1e12 * num) div (D - num)        [h/(1-h), e12]
      //   nh12  = (n * t12 * (1e12 + t12)) div 1e12 [n h/(1-h)^2, e12
      //           — n*h is scale-free, so this stays ~4e12 at ANY sf]
      //   a10   = (1e10 * r^2 * (n-2)) div (2 SSE)  [r^2/(2 s^2), e10]
      //   ncook_e6 = (a10 * nh12) div 1e16          [n * Cook, e6]
      //   nlev_e6  = (1e6 * n * num) div D          [n * h, e6]
      // Published (n-normalized: n*h averages to p=2 and n*Cook is
      // O(1) at every scale — the scale-free units that keep e6
      // resolution from sf0.001 to sf100): the top-10 rows by Cook
      // with their identity, residual, and both diagnostics. Max
      // intermediate ~6.4e34 at sf1, ~1e37 headroom bound at sf100 —
      // inside DECIMAL(38,0) with margin stated here, not assumed.
      (s, d) => {
        val spark = s
        import spark.implicits._
        // r16 (guide §1.2 step 1 + §2.6): spread the training frame
        // BEFORE the lineage cut so all 10 consumers (8 gradient
        // aggregates, the stats pass, the diagnostic scan) inherit full
        // parallelism from the one materialization — the heavy
        // DECIMAL(38,0) expression trees otherwise run on the handful
        // of partitions the single-row-group local scan yields.
        val data = Q.spread(t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("long").as("q"),
            expr("CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)")
              .as("y_e4")))
          .cutLineage()
        def fdiv(num: String, den: String) =
          s"(($num) - pmod(($num), ($den))) div ($den)"
        // a_linreg_gd's training loop, bit-exact (gradient sums in
        // DECIMAL(38,0): they pass 2^63 at a 100x corpus). The 1-row
        // weight frame is lineage-cut EVERY iteration (r16): the old
        // end-only cut let iteration k's plan nest all k-1 predecessors,
        // and the optimizer re-walked the whole O(k^2) tree per AQE
        // stage — pure driver time (gap_s) at any scale.
        var wts = Seq(1).toDF("__one")
          .select(lit(0L).as("w1"), lit(0L).as("w0"))
        // AQE off for the weight loop only (see Q.withAqeOff: measured
        // 6.94 -> ~5.1 s; a 1-row-state aggregate iteration has no
        // adaptive decision to buy the per-stage driver re-plans with)
        Q.withAqeOff(s) {
          (1 to 8).foreach { _ =>
            wts = data.crossJoin(broadcast(wts))
              .withColumn("r", expr("w1 * q + w0 - y_e4"))
              .agg(sum(expr("CAST(r AS DECIMAL(38,0)) * q")).as("g1"),
                sum(expr("CAST(r AS DECIMAL(38,0))")).as("g0"),
                count(lit(1)).as("n"), max("w1").as("w1"), max("w0").as("w0"))
              .select(
                expr(s"CAST(w1 - ${fdiv(fdiv("g1", "n"), "1024")} AS BIGINT)")
                  .as("w1"),
                expr(s"CAST(w0 - ${fdiv(fdiv("g0", "n"), "1024")} AS BIGINT)")
                  .as("w0"))
              .cutLineage()
          }
        }
        val wtsC = broadcast(wts)
        val st = broadcast(data.crossJoin(wtsC)
          .withColumn("r", expr("w1 * q + w0 - y_e4"))
          .agg(count(lit(1)).as("n"), sum("q").as("sq"),
            sum(expr("q * q")).as("sqq"),
            sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("sse")))
        data.crossJoin(wtsC).crossJoin(st)
          .withColumn("r", expr("w1 * q + w0 - y_e4"))
          .withColumn("dd",
            expr("CAST(n AS DECIMAL(38,0)) * sqq - CAST(sq AS DECIMAL(38,0)) * sq"))
          .withColumn("num",
            expr("CAST(sqq AS DECIMAL(38,0)) - 2 * q * sq" +
              " + CAST(n AS DECIMAL(38,0)) * q * q"))
          .withColumn("t12",
            expr("(CAST(1000000000000 AS DECIMAL(38,0)) * num) div (dd - num)"))
          .withColumn("nh12",
            expr("(CAST(n AS DECIMAL(38,0)) * t12 * (1000000000000 + t12))" +
              " div 1000000000000"))
          .withColumn("a10",
            expr("(CAST(10000000000 AS DECIMAL(38,0)) * r * r * (n - 2))" +
              " div (2 * sse)"))
          .withColumn("ncook_e6",
            expr("(CAST(a10 AS DECIMAL(38,0)) * nh12) div 10000000000000000"))
          .withColumn("nlev_e6",
            expr("(CAST(1000000 AS DECIMAL(38,0)) * n * num) div dd"))
          .select(col("l_orderkey"), col("l_linenumber"), col("q"),
            col("r").as("r_e4"), col("nlev_e6"), col("ncook_e6"))
          .orderBy(desc("ncook_e6"), col("l_orderkey"), col("l_linenumber"))
          .limit(10)
      },
      Some {
        def fdiv(num: String, den: String) =
          s"((($num) - ((($num) % ($den) + ($den)) % ($den))) // ($den))"
        val iters = (1 to 8).map { i =>
          s"""g$i AS (
                SELECT CAST(sum(CAST(w1 * q + w0 - y_e4 AS HUGEINT) * q)
                    AS HUGEINT) AS g1,
                  CAST(sum(CAST(w1 * q + w0 - y_e4 AS HUGEINT)) AS HUGEINT)
                    AS g0,
                  CAST(count(*) AS BIGINT) AS n
                FROM lev_data, p${i - 1}),
              p$i AS (
                SELECT CAST(w1 - ${fdiv(fdiv("g1", "n"), "1024")} AS BIGINT)
                    AS w1,
                  CAST(w0 - ${fdiv(fdiv("g0", "n"), "1024")} AS BIGINT) AS w0
                FROM g$i, p${i - 1})"""
        }.mkString(",\n             ")
        s"""WITH lev_data AS MATERIALIZED (
              SELECT l_orderkey, l_linenumber,
                CAST(l_quantity AS BIGINT) AS q,
                CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS y_e4
              FROM lineitem),
            p0 AS (SELECT CAST(0 AS HUGEINT) AS w1, CAST(0 AS HUGEINT) AS w0),
            $iters,
            st AS (
              SELECT CAST(count(*) AS HUGEINT) AS n,
                CAST(sum(q) AS HUGEINT) AS sq,
                CAST(sum(q * q) AS HUGEINT) AS sqq,
                CAST(sum(CAST(w1 * q + w0 - y_e4 AS HUGEINT)
                  * (w1 * q + w0 - y_e4)) AS HUGEINT) AS sse
              FROM lev_data, p8),
            base AS (
              SELECT l_orderkey, l_linenumber, q,
                CAST(w1 * q + w0 - y_e4 AS HUGEINT) AS r,
                n * sqq - sq * sq AS dd,
                sqq - 2 * q * sq + n * q * q AS num, n, sse
              FROM lev_data, p8, st),
            c1 AS (SELECT *,
                (CAST(1000000000000 AS HUGEINT) * num) // (dd - num) AS t12
              FROM base),
            c2 AS (SELECT *,
                (n * t12 * (1000000000000 + t12)) // 1000000000000 AS nh12,
                (CAST(10000000000 AS HUGEINT) * r * r * (n - 2))
                  // (2 * sse) AS a10
              FROM c1)
            SELECT l_orderkey, l_linenumber, CAST(q AS BIGINT) AS q,
              CAST(r AS BIGINT) AS r_e4,
              CAST((CAST(1000000 AS HUGEINT) * n * num) // dd AS BIGINT)
                AS nlev_e6,
              CAST((a10 * nh12) // 10000000000000000 AS BIGINT) AS ncook_e6
            FROM c2
            ORDER BY ncook_e6 DESC, l_orderkey, l_linenumber LIMIT 10"""
      }),

    Q("a_quantile_gd",
      // Quantile (pinball-loss) regression by subgradient descent
      // (Koenker-Bassett 1978 loss; the p90 conditional-quantile twin
      // of a_linreg_gd, ninth-proposal #4): predict the 90th
      // percentile of l_extendedprice from l_quantity. The pinball
      // loss is piecewise linear, so the subgradient is SIGN-based —
      // each row contributes -9 (under-predicted) or +1 (covered) in
      // tenths, making every update INTEGER-exact with no libm
      // anywhere (the reason logistic GD was declined does not apply).
      // Steps are per-coordinate (diagonal preconditioning, public
      // textbook practice): eta1=32 for the slope, eta0=131072 for the
      // intercept — the intercept's subgradient is O(1) per row while
      // the slope's is O(q), and the corpus's pinball optimum is in
      // fact nearly FLAT (w0* ~ the marginal p90 ~ 94.7k currency
      // units, w1* ~ 0: extendedprice is not q-proportional here), so
      // the intercept is the long direction. 16 iterations land at
      // ~1.5% above the scanned 1-D optimum's loss with held
      // coverage ~0.897 vs the 0.9 a free intercept equalizes at the
      // optimum. Published: the full trajectory — updated weights plus
      // the pre-update mean pinball (x10, integer) and coverage ppm,
      // the a_linreg_gd convention (metrics lag the update by one
      // aggregate; monotone decreasing from row 2, visible in-row).
      // Overflow headroom: eta0 * sum(s) <= 131072 * 9n ~ 7e12 at sf1,
      // ~7e14 at sf100 — BIGINT-safe at 100x on both engines.
      (s, d) => {
        val spark = s
        import spark.implicits._
        // r16: spread before the cut (each of the 16 subgradient
        // aggregates scans this frame) and lineage-cut ONE combined
        // 1-row frame per iteration carrying both the updated weights
        // and the published metrics. The old shape kept `params` and
        // each `hist` entry as separate unexecuted plans over the same
        // aggregate, so the final 16-branch union re-planned an O(k^2)
        // nested tree — 4.7 s of the query's 6.0 s was driver gap
        // (planning), not computation. Same expressions, same integer
        // arithmetic, one aggregate execution per iteration.
        val data = Q.spread(t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("q"),
            expr("CAST(floor(l_extendedprice + 0.5) AS BIGINT)").as("y_c")))
          .cutLineage()
        def fdiv(num: String, den: String) =
          s"(($num) - pmod(($num), ($den))) div ($den)"
        var params = Seq(1).toDF("__one")
          .select(lit(0L).as("w1"), lit(0L).as("w0"), lit(0).as("iter"))
        var hist = Vector.empty[org.apache.spark.sql.DataFrame]
        // AQE off for the subgradient loop only (see Q.withAqeOff:
        // measured 7.33 -> ~4.8 s; each iteration is one global
        // aggregate into a 1-row cut — nothing for AQE to adapt)
        Q.withAqeOff(s) {
          (1 to 16).foreach { i =>
            val g = data.crossJoin(broadcast(params))
              .withColumn("pred", expr("w1 * q + w0"))
              .withColumn("sg",
                expr("CASE WHEN y_c > pred THEN -9L ELSE 1L END"))
              .agg(sum(expr("sg * q")).as("g1"), sum("sg").as("g0"),
                sum(expr("CASE WHEN y_c > pred THEN 9 * (y_c - pred)" +
                  " ELSE pred - y_c END")).as("pb"),
                sum(expr("CASE WHEN y_c <= pred THEN 1L ELSE 0L END"))
                  .as("nle"),
                count(lit(1)).as("n"), max("w1").as("w1"), max("w0").as("w0"))
            val step = g.select(
              expr(s"w1 - ${fdiv("32 * g1", "10 * n")}").as("w1"),
              expr(s"w0 - ${fdiv("131072 * g0", "10 * n")}").as("w0"),
              lit(i).as("iter"),
              expr("pb div n").as("pinball10_mean"),
              expr("1000000 * nle div n").as("cov_ppm"))
              .cutLineage()
            params = step.select("w1", "w0", "iter")
            hist = hist :+ step
              .select(col("iter"), col("w1").as("w1_c"), col("w0").as("w0_c"),
                col("pinball10_mean"), col("cov_ppm"))
          }
        }
        hist.reduce(_ unionByName _).orderBy("iter")
      },
      Some {
        def fdiv(num: String, den: String) =
          s"((($num) - ((($num) % ($den) + ($den)) % ($den))) // ($den))"
        // every g/p CTE MATERIALIZED: each is referenced twice, and
        // DuckDB's inliner would otherwise expand the 16-level chain
        // exponentially (2^16 re-evaluations — measured as a stuck
        // oracle; the 8-level GD chains tolerate plain CTEs)
        val iters = (1 to 16).map { i =>
          s"""g$i AS MATERIALIZED (
                SELECT CAST(sum((CASE WHEN y_c > w1 * q + w0 THEN -9
                    ELSE 1 END) * q) AS BIGINT) AS g1,
                  CAST(sum(CASE WHEN y_c > w1 * q + w0 THEN -9
                    ELSE 1 END) AS BIGINT) AS g0,
                  CAST(sum(CASE WHEN y_c > w1 * q + w0
                    THEN 9 * (y_c - (w1 * q + w0))
                    ELSE (w1 * q + w0) - y_c END) AS BIGINT) AS pb,
                  CAST(sum(CASE WHEN y_c <= w1 * q + w0 THEN 1
                    ELSE 0 END) AS BIGINT) AS nle,
                  CAST(count(*) AS BIGINT) AS n
                FROM qr_data, p${i - 1}),
              p$i AS MATERIALIZED (
                SELECT CAST(w1 - ${fdiv("32 * g1", "10 * n")} AS BIGINT)
                    AS w1,
                  CAST(w0 - ${fdiv("131072 * g0", "10 * n")} AS BIGINT)
                    AS w0,
                  CAST(${"pb // n"} AS BIGINT) AS pinball10_mean,
                  CAST(1000000 * nle // n AS BIGINT) AS cov_ppm
                FROM g$i, p${i - 1})"""
        }.mkString(",\n             ")
        val rows = (1 to 16).map(i =>
          s"SELECT $i AS iter, w1 AS w1_c, w0 AS w0_c, pinball10_mean," +
            s" cov_ppm FROM p$i")
          .mkString("\n UNION ALL ")
        s"""WITH qr_data AS MATERIALIZED (
              SELECT CAST(l_quantity AS BIGINT) AS q,
                CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y_c
              FROM lineitem),
            p0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w0,
                     CAST(0 AS BIGINT) AS pinball10_mean,
                     CAST(0 AS BIGINT) AS cov_ppm),
            $iters
            SELECT iter, w1_c, w0_c, pinball10_mean, cov_ppm
            FROM ($rows) ORDER BY iter"""
      }),

    Q("w21_p90_trend",
      // Quantile trend per key — "is this tenant's tail drifting?", the
      // per-entity latency/spend question a mean-based trend hides:
      // per (event_type, month) the EXACT p90 of event value by
      // nearest-rank (rank = ceil(0.9 n) over (cents, event_id) — a
      // total order, so both engines pick the identical row; integer
      // cents, no interpolation), then the w20 Theil-Sen machinery
      // over each type's monthly p90 series (median of pairwise
      // floored-ppm slopes, lower-middle pick). Scale shape: the p90
      // rank is one window sharing the (type, month) partitioning —
      // WindowGroupLimit-prunable since only rank r survives; the
      // slope pair frame is months^2 per type, span-bounded.
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 2592000000000").as("m"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v_e2"),
            col("event_id"))
        val wM = Window.partitionBy("event_type", "m")
        val wR = Window.partitionBy("event_type", "m")
          .orderBy(col("v_e2"), col("event_id"))
        val p90 = ev
          .withColumn("n", count(lit(1)).over(wM))
          .withColumn("rn", row_number().over(wR))
          .filter(col("rn") === expr("(9 * n + 9) div 10"))
          .select(col("event_type"), col("m"), col("v_e2").as("p90_e2"))
        val a = p90.select(col("event_type"), col("m").as("xi"),
          col("p90_e2").as("yi"))
        val b = p90.select(col("event_type"), col("m").as("xj"),
          col("p90_e2").as("yj"))
        val slopes = a.join(b, Seq("event_type"))
          .filter(col("xi") < col("xj"))
          .withColumn("num", expr("1000000 * (yj - yi)"))
          .withColumn("den", col("xj") - col("xi"))
          .withColumn("slope_ppm", expr("(num - pmod(num, den)) div den"))
        val wS = Window.partitionBy("event_type")
          .orderBy(col("slope_ppm"), col("xi"), col("xj"))
        val wT = Window.partitionBy("event_type")
        val trend = slopes
          .withColumn("rn", row_number().over(wS))
          .withColumn("np", count(lit(1)).over(wT))
          .filter(col("rn") === expr("(np + 1) div 2"))
          .select(col("event_type"), col("slope_ppm").as("p90_slope_ppm"))
        p90.groupBy("event_type")
          .agg(count(lit(1)).as("n_months"),
            min("p90_e2").as("p90_min_e2"), max("p90_e2").as("p90_max_e2"))
          .join(trend, Seq("event_type"))
          .select("event_type", "n_months", "p90_min_e2", "p90_max_e2",
            "p90_slope_ppm")
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
               SELECT event_type, epoch_us(ts) // 2592000000000 AS m,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2, event_id
               FROM events),
             p90 AS MATERIALIZED (
               SELECT event_type, m, v_e2 AS p90_e2 FROM (
                 SELECT event_type, m, v_e2,
                   row_number() OVER (PARTITION BY event_type, m
                     ORDER BY v_e2, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type, m) AS n
                 FROM ev)
               WHERE rn = (9 * n + 9) // 10),
             slopes AS (
               SELECT a.event_type, a.m AS xi, b.m AS xj,
                 CAST((1000000 * (b.p90_e2 - a.p90_e2)
                     - ((1000000 * (b.p90_e2 - a.p90_e2)) % (b.m - a.m)
                        + (b.m - a.m)) % (b.m - a.m))
                   // (b.m - a.m) AS BIGINT) AS slope_ppm
               FROM p90 a JOIN p90 b
                 ON a.event_type = b.event_type AND a.m < b.m),
             med AS (
               SELECT event_type, slope_ppm AS p90_slope_ppm FROM (
                 SELECT event_type, slope_ppm,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY slope_ppm, xi, xj) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS np
                 FROM slopes)
               WHERE rn = (np + 1) // 2)
             SELECT p.event_type, CAST(count(*) AS BIGINT) AS n_months,
               CAST(min(p90_e2) AS BIGINT) AS p90_min_e2,
               CAST(max(p90_e2) AS BIGINT) AS p90_max_e2,
               max(med.p90_slope_ppm) AS p90_slope_ppm
             FROM p90 p JOIN med ON p.event_type = med.event_type
             GROUP BY p.event_type ORDER BY p.event_type""")),

    Q("w22_markov_attrib",
      // Markov-chain attribution by removal effect (operators/
      // Attribution — Anderl et al. 2014): user journeys -> first-order
      // chain over touchpoint states with CONV/NULL absorbers; a
      // channel's credit is how much start-to-conversion probability
      // drops when its visits redirect to NULL — the data-driven
      // answer first/last-touch heuristics fake. The corpus is touched
      // ONCE (one window pass + one pivoted aggregate into a single
      // counts row); the five chain variants (base + four removals)
      // value-iterate side by side on that 1-row frame for 24 rounds,
      // every update pure BIGINT ppm (a documented monotone
      // lower-bound truncation of the exact absorption probability,
      // identical on both engines); the oracle replays the identical
      // recurrence generated from the same term lists.
      (s, d) => graft.operators.Attribution
        .markovAttribution(t(s, d, "events"), iters = 24),
      Some(graft.operators.Attribution.duckSql(iters = 24))),

    Q("w23_seq_patterns",
      // Sequential pattern mining, the bounded-length core (SPAM /
      // PrefixSpan restricted to consecutive length-3 patterns, gap 0):
      // the top-10 event-type trigram PATHS by user support — "what do
      // users actually do in sequence", the query behind churn-path
      // and funnel-discovery analyses. Support = distinct users whose
      // journey contains the consecutive triple (per-user dedup before
      // counting, so one loopy user cannot inflate a pattern). One
      // window pass (two leads) + one distinct + one count: the
      // pattern vocabulary is |types|^3-bounded, the corpus is touched
      // once. Total order (support desc, pattern) for the top-10.
      (s, d) => {
        val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("t2", lead("event_type", 1).over(wOrd))
          .withColumn("t3", lead("event_type", 2).over(wOrd))
          .filter(col("t3").isNotNull)
          .select(col("user_id"),
            concat_ws(">", col("event_type"), col("t2"), col("t3"))
              .as("pattern"))
          .distinct()
          .groupBy("pattern").agg(count(lit(1)).as("n_users"))
          .orderBy(desc("n_users"), col("pattern"))
          .limit(10)
      },
      Some("""WITH seqd AS (
               SELECT user_id, event_type,
                 lead(event_type, 1) OVER w AS t2,
                 lead(event_type, 2) OVER w AS t3
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             pats AS (
               SELECT DISTINCT user_id,
                 event_type || '>' || t2 || '>' || t3 AS pattern
               FROM seqd WHERE t3 IS NOT NULL)
             SELECT pattern, CAST(count(*) AS BIGINT) AS n_users
             FROM pats GROUP BY pattern
             ORDER BY n_users DESC, pattern LIMIT 10""")),

    Q("a_conformal",
      // Split-conformal prediction intervals (Papadopoulos et al. 2002;
      // Lei et al.) over the a_linreg_gd model — the distribution-free
      // calibration step a deployed regressor needs: 3-way identity-
      // hash split (train/calibration/test, the x_hash_split
      // discipline, so membership is reproducible everywhere), the GD
      // weights fit on TRAIN only (same bit-exact integer loop), the
      // interval half-width q_hat = the ceil(0.9*(n_cal+1))-th
      // smallest absolute calibration residual (the finite-sample
      // conformal rank — an exact nearest-rank pick: ties in |r| all
      // carry the same value, so the orderBy needs no tiebreak), and
      // the honesty column: EMPIRICAL coverage on the held-out test
      // split, which conformal theory lower-bounds by 90% under
      // exchangeability — measured, not assumed, in the same row.
      (s, d) => {
        val data = t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("q"),
            expr("CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)")
              .as("y_e4"),
            expr("CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING)," +
              " ':', CAST(l_linenumber AS STRING))), 1, 12), 16, 10)" +
              " AS BIGINT) % 3").as("split"))
          .cutLineage()
        def fdiv(num: String, den: String) =
          s"($num - pmod($num, $den)) div ($den)"
        val train = data.filter(col("split") === 0)
        var wts = train.agg(lit(0L).as("w1"), lit(0L).as("w0"))
        (1 to 8).foreach { _ =>
          wts = train.crossJoin(broadcast(wts))
            .withColumn("r", expr("w1 * q + w0 - y_e4"))
            .agg(sum(expr("r * q")).as("g1"), sum("r").as("g0"),
              count(lit(1)).as("n"), max("w1").as("w1"), max("w0").as("w0"))
            .select(expr(s"w1 - ${fdiv(fdiv("g1", "n"), "1024")}").as("w1"),
              expr(s"w0 - ${fdiv(fdiv("g0", "n"), "1024")}").as("w0"))
        }
        val wtsC = wts.cutLineage() // 1-row weights: GD evaluated once
        val cal = data.filter(col("split") === 1)
          .crossJoin(broadcast(wtsC))
          .withColumn("absr", abs(expr("w1 * q + w0 - y_e4")))
          .select("absr").cutLineage() // the ~n/20 split, materialized once
        // The exact nearest-rank pick, as the a_hist_quantiles
        // two-phase DISTRIBUTED selection (round-12 verdict #1 — the
        // original global Window.orderBy sorted the whole calibration
        // split in ONE task, the "fine at sf1, dead at 100x" shape):
        // phase 1 buckets absr into 64 integer equi-width bins and
        // finds the covering bucket on the 64-row cumsum frame; phase
        // 2 ranks ONLY that bucket's ~n/64 rows. Ties in absr carry
        // the same value and land in the same bucket, so the in-bucket
        // rank (target - cum_before) picks exactly the value the flat
        // global rank would — the oracle keeps stating the flat
        // row_number and stays green unchanged.
        val nCal = broadcast(cal.agg(count(lit(1)).as("__nc"),
          min("absr").as("lo"), max("absr").as("hi")))
        // integer width >= 1: no divide-by-zero when all absr tie
        val bucketed = cal.crossJoin(nCal)
          .withColumn("b", expr("(absr - lo) div ((hi - lo) div 64 + 1)"))
        val pick = broadcast(bucketed
          .groupBy("b").agg(count(lit(1)).as("cnt"))
          .crossJoin(nCal)
          .withColumn("cum", sum("cnt").over(Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, 0))) // 64-row frame
          .withColumn("target", expr("(9 * (__nc + 1) + 9) div 10"))
          .filter(col("cum") >= col("target"))
          .orderBy("b").limit(1)
          .select(col("b"), (col("cum") - col("cnt")).as("cum_before"),
            col("target")))
        val qhat = broadcast(bucketed
          .join(pick.select("b", "cum_before", "target"), Seq("b"))
          .withColumn("rn", // rank ONLY the covering 1/64 slice
            row_number().over(Window.partitionBy("b").orderBy("absr")))
          .filter(col("rn") === col("target") - col("cum_before"))
          .select(col("absr").as("q_hat_e4")))
        val test = data.filter(col("split") === 2)
          .crossJoin(broadcast(wtsC)).crossJoin(qhat)
          .withColumn("covered",
            (abs(expr("w1 * q + w0 - y_e4")) <= col("q_hat_e4")).cast("long"))
        test.agg(count(lit(1)).as("n_test"), sum("covered").as("n_covered"),
            max("q_hat_e4").as("q_hat_e4"), max("w1").as("w1_e4"),
            max("w0").as("w0_e4"))
          .crossJoin(nCal)
          .withColumn("coverage_ppm",
            expr("1000000 * n_covered div n_test"))
          .select(col("__nc").as("n_cal"), col("n_test"), col("q_hat_e4"),
            col("w1_e4"), col("w0_e4"), col("coverage_ppm"))
      },
      Some {
        def fdiv(num: String, den: String) =
          s"((($num) - ((($num) % ($den) + ($den)) % ($den))) // ($den))"
        val h48 = (1 to 12).map(i =>
          s"(strpos('0123456789abcdef', substring(md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        val iters = (1 to 8).map { i =>
          s"""g$i AS (
                SELECT CAST(sum((w1 * q + w0 - y_e4) * q) AS HUGEINT) AS g1,
                  CAST(sum(w1 * q + w0 - y_e4) AS HUGEINT) AS g0,
                  CAST(count(*) AS BIGINT) AS n
                FROM cf_train, p${i - 1}),
              p$i AS (
                SELECT CAST(w1 - ${fdiv(fdiv("g1", "n"), "1024")} AS BIGINT)
                    AS w1,
                  CAST(w0 - ${fdiv(fdiv("g0", "n"), "1024")} AS BIGINT) AS w0
                FROM g$i, p${i - 1})"""
        }.mkString(",\n             ")
        s"""WITH cf_data AS MATERIALIZED (
              SELECT CAST(l_quantity AS BIGINT) AS q,
                CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS y_e4,
                $h48 % 3 AS split
              FROM lineitem),
            cf_train AS (SELECT * FROM cf_data WHERE split = 0),
            p0 AS (SELECT CAST(0 AS HUGEINT) AS w1, CAST(0 AS HUGEINT) AS w0),
            $iters,
            cal AS (
              SELECT abs(w1 * q + w0 - y_e4) AS absr
              FROM cf_data, p8 WHERE split = 1),
            nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
            qh AS (
              SELECT CAST(absr AS BIGINT) AS q_hat_e4 FROM (
                SELECT absr, row_number() OVER (ORDER BY absr) AS rn
                FROM cal), nc
              WHERE rn = (9 * (n_cal + 1) + 9) // 10),
            tst AS (
              SELECT CAST(count(*) AS BIGINT) AS n_test,
                CAST(sum(CASE WHEN abs(w1 * q + w0 - y_e4) <= q_hat_e4
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
              FROM cf_data, p8, qh WHERE split = 2)
            SELECT n_cal, n_test, q_hat_e4,
              CAST(w1 AS BIGINT) AS w1_e4, CAST(w0 AS BIGINT) AS w0_e4,
              CAST(1000000 * n_covered // n_test AS BIGINT) AS coverage_ppm
            FROM nc, tst, qh, p8"""
      }),

    Q("w13_retention_cohorts",
      // Cohort retention — THE product-analytics rollup: users are
      // cohorted by their first active week, and each (cohort week,
      // week offset) cell counts how many of that cohort were active
      // again k weeks later. Weeks are integer epoch-weeks (epoch
      // days div 7 — no calendar/timezone semantics for engines to
      // disagree on), offsets and counts are BIGINT-exact. Shape: the
      // per-user first-week min is a map-side-partial aggregate; the
      // (user, week) activity set is one distinct; cohort cells are
      // one join + one aggregate — every stage keyed on user or
      // cohort, no windows.
      (s, d) => {
        val act = t(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 604800000000").as("week"))
          .distinct()
        val cohort = act.groupBy("user_id").agg(min("week").as("cohort_week"))
        act.join(cohort, Seq("user_id"))
          .withColumn("week_offset", col("week") - col("cohort_week"))
          .groupBy("cohort_week", "week_offset")
          .agg(countDistinct("user_id").as("n_active"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""SELECT cohort_week, week - cohort_week AS week_offset,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
             FROM (SELECT DISTINCT user_id,
                     epoch_us(ts) // 604800000000 AS week
                   FROM events) a
             JOIN (SELECT user_id, min(week) AS cohort_week
                   FROM (SELECT DISTINCT user_id,
                           epoch_us(ts) // 604800000000 AS week
                         FROM events)
                   GROUP BY user_id) c USING (user_id)
             GROUP BY cohort_week, week_offset
             ORDER BY cohort_week, week_offset""")),

    Q("w12_gap_islands",
      // Gaps-and-islands: maximal runs of CONSECUTIVE active hours per
      // user — the classic row_number-difference grouping (slot minus
      // per-user rank is constant exactly within a consecutive run),
      // the pattern behind uptime stretches, streak analytics, and
      // slot-based sessionization where w5's timestamp-gap rule
      // doesn't apply. Slots are integer epoch-hours, so the grouping
      // key, bounds and lengths are all BIGINT-exact. One user-keyed
      // shuffle shared by the distinct, the rank window, and the
      // island rollup.
      (s, d) => {
        val slots = t(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 3600000000").as("slot"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("slot")
        slots
          .withColumn("grp", col("slot") - row_number().over(w))
          .groupBy("user_id", "grp")
          .agg(min("slot").as("island_start"), max("slot").as("island_end"),
            count(lit(1)).as("n_hours"))
          .select("user_id", "island_start", "island_end", "n_hours")
          .orderBy("user_id", "island_start")
      },
      Some("""SELECT user_id, min(slot) AS island_start,
             max(slot) AS island_end, CAST(count(*) AS BIGINT) AS n_hours
             FROM (SELECT user_id, slot,
                     slot - row_number() OVER (PARTITION BY user_id
                       ORDER BY slot) AS grp
                   FROM (SELECT DISTINCT user_id,
                           epoch_us(ts) // 3600000000 AS slot
                         FROM events))
             GROUP BY user_id, grp
             ORDER BY user_id, island_start""")),

    Q("w10_ewma",
      // Exponential smoothing over each user's event-value series — the
      // trend estimator every time-series monitor runs — with the
      // geometric weights made EXACT: an 8-tap truncated kernel whose
      // weights are the integers 2^(7-k) (newest tap heaviest, ratio
      // 1/2), so the smoothed value is (100 * sum(v_k * 2^(7-k))) div
      // sum(present 2^(7-k)) — pure BIGINT arithmetic with the partial
      // kernel renormalized at series heads, where a true infinite-tail
      // EWMA would carry float drift that no hash compare tolerates.
      // Values snap to integer cents once (the w8 convention). The lag
      // taps, the latest-row pick, and the per-user count all share
      // the user_id partitioning: ONE shuffle end-to-end at any event
      // volume (the w6 shape with 8 taps instead of 1).
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        val taps = (0 to 7).map { k =>
          val tap = if (k == 0) col("v_e2") else lag(col("v_e2"), k).over(w)
          (tap, lit(1L << (7 - k)))
        }
        val num = taps.map { case (tap, wt) => coalesce(tap, lit(0L)) * wt }
          .reduce(_ + _)
        val den = taps.map { case (tap, wt) =>
          when(tap.isNotNull, wt).otherwise(lit(0L)) }.reduce(_ + _)
        val latest = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v_e2"))
          .withColumn("__num", num)
          .withColumn("__den", den)
          .withColumn("ewma_c4", expr("(100 * __num) div __den"))
          .withColumn("n_events",
            count(lit(1)).over(Window.partitionBy("user_id")))
          .withColumn("rn", row_number().over(latest))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("n_events"),
            col("ewma_c4").as("last_ewma_c4"))
          .orderBy("user_id")
      },
      Some {
        val num = (0 to 7).map { k =>
          val tap = if (k == 0) "v" else s"lag(v, $k) OVER w"
          s"coalesce($tap, 0) * ${1L << (7 - k)}"
        }.mkString(" + ")
        val den = (0 to 7).map { k =>
          val tap = if (k == 0) "v" else s"lag(v, $k) OVER w"
          s"CASE WHEN $tap IS NOT NULL THEN ${1L << (7 - k)} ELSE 0 END"
        }.mkString(" + ")
        s"""SELECT user_id, n_events, ewma_c4 AS last_ewma_c4 FROM (
             SELECT user_id,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
               CAST((100 * ($num)) // ($den) AS BIGINT) AS ewma_c4,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM (SELECT user_id, ts, event_id,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                   FROM events)
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
           WHERE rn = 1 ORDER BY user_id"""
      }),

    Q("w14_ab_chisq",
      // A/B significance over the event stream: users split into two
      // deterministic variants (user_id parity — the hash-bucket
      // assignment an experimentation system uses), outcome = did the
      // user convert (>= 1 high-value purchase — `value > 95`; the
      // synthetic stream gives every user SOME purchase, so the raw
      // any-purchase outcome is degenerate). One user-keyed aggregate
      // builds the 2x2 contingency table; the chi-square statistic
      // N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) is computed in DOUBLES from
      // exact BIGINT sufficient statistics — every long->double cast is
      // exact (< 2^53) and the expression tree is identical text on
      // both engines, so the e6 floor matches bit-for-bit (the
      // assortativity discipline). Output: the table, per-variant
      // conversion ppm, chi2_e6 and the 95% verdict (df=1, 3.841).
      (s, d) => {
        val users = t(s, d, "events")
          .groupBy(expr("user_id % 2").as("variant"))
          .agg(countDistinct("user_id").as("n_users"),
            countDistinct(when(col("event_type") === "purchase"
              && col("value") > 95, col("user_id"))).as("n_converted"))
        users.groupBy()
          .agg(
            sum(when(col("variant") === 0, col("n_converted"))).as("a"),
            sum(when(col("variant") === 0,
              col("n_users") - col("n_converted"))).as("b"),
            sum(when(col("variant") === 1, col("n_converted"))).as("c"),
            sum(when(col("variant") === 1,
              col("n_users") - col("n_converted"))).as("d"))
          .withColumn("conv0_ppm", expr("(1000000 * a) div (a + b)"))
          .withColumn("conv1_ppm", expr("(1000000 * c) div (c + d)"))
          .withColumn("chi2_e6", expr(
            """CAST(floor((CAST(a + b + c + d AS DOUBLE)
               * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
               * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
               / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                  * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)"""))
          .withColumn("significant_95",
            (col("chi2_e6") > lit(3841459L)).cast("int"))
          .select("a", "b", "c", "d", "conv0_ppm", "conv1_ppm",
            "chi2_e6", "significant_95")
      },
      Some("""WITH users AS (
               SELECT user_id % 2 AS variant,
                 count(DISTINCT user_id) AS n_users,
                 count(DISTINCT CASE WHEN event_type = 'purchase'
                   AND value > 95 THEN user_id END) AS n_converted
               FROM events GROUP BY 1),
             tab AS (
               SELECT
                 CAST(sum(CASE WHEN variant = 0 THEN n_converted END) AS BIGINT) AS a,
                 CAST(sum(CASE WHEN variant = 0 THEN n_users - n_converted END) AS BIGINT) AS b,
                 CAST(sum(CASE WHEN variant = 1 THEN n_converted END) AS BIGINT) AS c,
                 CAST(sum(CASE WHEN variant = 1 THEN n_users - n_converted END) AS BIGINT) AS d
               FROM users)
             SELECT a, b, c, d,
               CAST((1000000 * a) // (a + b) AS BIGINT) AS conv0_ppm,
               CAST((1000000 * c) // (c + d) AS BIGINT) AS conv1_ppm,
               CAST(floor((CAST(a + b + c + d AS DOUBLE)
                 * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                 * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                 / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
                 * 1000000 + 0.5) AS BIGINT) AS chi2_e6,
               CAST(CASE WHEN (CAST(floor((CAST(a + b + c + d AS DOUBLE)
                 * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                 * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                 / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
                 * 1000000 + 0.5) AS BIGINT)) > 3841459
                 THEN 1 ELSE 0 END AS INT) AS significant_95
             FROM tab""")),

    Q("w15_funnel_steps",
      // Time-bounded multi-step funnel (the product-analytics sequel to
      // a7's static two-level funnel): per user, the earliest view,
      // then the first click AFTER that view within 7 days, then the
      // first purchase AFTER that click within 7 days — order and
      // max-gap both enforced, which is what separates a funnel from
      // three independent counts. Shape: one user-keyed aggregate per
      // step, each consuming the previous step's per-user anchor
      // timestamp through a join that reuses the SAME user_id
      // partitioning (co-partitioned — the three steps ride one
      // shuffle family, never a per-event window). Outputs are counts
      // + integer ppm conversion rates.
      (s, d) => {
        val ev = t(s, d, "events").select("user_id", "event_type", "ts")
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("v_ts"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, Seq("user_id"))
          .filter(col("ts") > col("v_ts") &&
            col("ts") <= expr("v_ts + INTERVAL 7 DAYS"))
          .groupBy("user_id").agg(min("ts").as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id"))
          .filter(col("ts") > col("c_ts") &&
            col("ts") <= expr("c_ts + INTERVAL 7 DAYS"))
          .groupBy("user_id").agg(min("ts").as("p_ts"))
        v.agg(count(lit(1)).as("n_view")).crossJoin(
            c.agg(count(lit(1)).as("n_click_after")))
          .crossJoin(p.agg(count(lit(1)).as("n_purchase_after")))
          .withColumn("click_ppm",
            expr("(1000000 * n_click_after) div n_view"))
          .withColumn("purchase_ppm",
            expr("(1000000 * n_purchase_after) div n_view"))
      },
      Some("""WITH v AS (
               SELECT user_id, min(ts) AS v_ts FROM events
               WHERE event_type = 'view' GROUP BY 1),
             c AS (
               SELECT e.user_id, min(e.ts) AS c_ts
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.v_ts
                 AND e.ts <= v.v_ts + INTERVAL 7 DAY
               GROUP BY 1),
             p AS (
               SELECT e.user_id, min(e.ts) AS p_ts
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
                 AND e.ts <= c.c_ts + INTERVAL 7 DAY
               GROUP BY 1)
             SELECT
               (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
               (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_after,
               (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_after,
               CAST((1000000 * (SELECT count(*) FROM c))
                 // (SELECT count(*) FROM v) AS BIGINT) AS click_ppm,
               CAST((1000000 * (SELECT count(*) FROM p))
                 // (SELECT count(*) FROM v) AS BIGINT) AS purchase_ppm""")),

    Q("a_hist_quantiles",
      // Histogram-sketch quantiles with a measured-error audit (the
      // KLL/t-digest niche filled with the mergeable structure Spark
      // aggregates natively): a 64-bucket equi-width histogram over
      // order totals — bucket counts are BIGINTs that merge up any
      // aggregation tree — estimates p50/p90/p99 as the covering
      // bucket's upper edge; each estimate is audited against the
      // EXACT rank statistic (the value at rank ceil(q*n), a data
      // value both engines pick identically). The bucket arithmetic is
      // the identical IEEE chain on both engines; the 64-row cumsum
      // window is bounded by the bucket count, never the data.
      // The EXACT side is the classic two-phase distributed selection,
      // NOT a global sort: the covering bucket is found on the 64-row
      // cumsum frame, and only that bucket's rows (a 1/64 slice) are
      // ranked, in a window PARTITIONED by quantile — the same
      // funnel-avoidance shape as the ccnet tercile rewrite.
      // AUDIT-PATH BOUND (round-10 verdict #7): that per-quantile rank
      // IS a single-partition window over the covering bucket's ~n/64
      // rows — with 3 quantiles the audit sorts 3 slices of ~n/64 on 3
      // tasks, so its critical path is O((n/64) log(n/64)) regardless
      // of cluster width. That is the deliberate bound for an AUDIT
      // column (the production estimate path touches only the 64-row
      // histogram); if an exact selection ever becomes a product path,
      // recurse the same trick — re-bucket the covering slice on a
      // second histogram digit (64^2 = 4096 buckets ≈ n/4096 per final
      // sort) — rather than widening this window.
      (s, d) => {
        val src = t(s, d, "orders").select(col("o_totalprice").as("x"))
        val bounds = src.agg(min("x").as("lo"), max("x").as("hi"),
          count(lit(1)).as("n"))
        val bucketExpr =
          "least(63, CAST(floor((x - lo) / ((hi - lo) / 64.0)) AS INT))"
        val cums = src.crossJoin(broadcast(bounds))
          .withColumn("b", expr(bucketExpr))
          .groupBy("b").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(bounds))
          .withColumn("cum", sum("cnt").over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)))
        val qs = Seq(("p50", 50), ("p90", 90), ("p99", 99))
        val picks = qs.map { case (nm, q) =>
          cums.filter(expr(s"100 * cum >= $q * n"))
            .orderBy("b").limit(1)
            .select(lit(nm).as("q"), col("b"),
              (col("cum") - col("cnt")).as("cum_before"),
              expr(s"CAST(ceil($q * n / 100.0) AS BIGINT)").as("target"),
              expr("lo + (b + 1) * ((hi - lo) / 64.0)").as("est"))
        }.reduce(_.unionByName(_))
        val exact = src.crossJoin(broadcast(bounds))
          .withColumn("b", expr(bucketExpr))
          .join(broadcast(picks), Seq("b"))
          .withColumn("r", row_number().over(
            Window.partitionBy("q").orderBy(col("x").asc)))
          .filter(col("r") === col("target") - col("cum_before"))
          .select(col("q"), col("est"), col("x").as("exact"))
        exact
          .select(col("q"),
            expr("CAST(floor(est * 100 + 0.5) AS BIGINT)").as("est_c2"),
            expr("CAST(floor(exact * 100 + 0.5) AS BIGINT)").as("exact_c2"))
          .withColumn("err_ppm", expr(
            "(1000000 * abs(est_c2 - exact_c2)) div exact_c2"))
          .orderBy("q")
      },
      Some("""WITH src AS (SELECT o_totalprice AS x FROM orders),
             bounds AS (SELECT min(x) AS lo, max(x) AS hi,
               count(*) AS n FROM src),
             cums AS (
               SELECT b, cnt, sum(cnt) OVER (ORDER BY b
                 ROWS UNBOUNDED PRECEDING) AS cum
               FROM (SELECT b, count(*) AS cnt FROM (
                       SELECT least(63, CAST(floor((x - lo)
                         / ((hi - lo) / 64.0)) AS INT)) AS b
                       FROM src, bounds) GROUP BY b)),
             p AS (
               SELECT 'p50' AS q, CAST(ceil(50 * n / 100.0) AS BIGINT)
                 AS target, 50 AS pct FROM bounds
               UNION ALL SELECT 'p90', CAST(ceil(90 * n / 100.0) AS BIGINT),
                 90 FROM bounds
               UNION ALL SELECT 'p99', CAST(ceil(99 * n / 100.0) AS BIGINT),
                 99 FROM bounds),
             pickb AS (
               SELECT p.q, p.target, min(c.b) AS b
               FROM p JOIN cums c ON c.cum >= p.target, bounds
               GROUP BY 1, 2),
             picks AS (
               SELECT pickb.q, pickb.target, pickb.b,
                 c.cum - c.cnt AS cum_before,
                 lo + (pickb.b + 1) * ((hi - lo) / 64.0) AS est
               FROM pickb JOIN cums c ON c.b = pickb.b, bounds),
             exact AS (
               SELECT q, est, x AS exact FROM (
                 SELECT pk.q, pk.est, s.x,
                   row_number() OVER (PARTITION BY pk.q ORDER BY s.x) AS r,
                   pk.target - pk.cum_before AS want
                 FROM (SELECT x, least(63, CAST(floor((x - lo)
                         / ((hi - lo) / 64.0)) AS INT)) AS b
                       FROM src, bounds) s
                 JOIN picks pk ON s.b = pk.b)
               WHERE r = want)
             SELECT q,
               CAST(floor(est * 100 + 0.5) AS BIGINT) AS est_c2,
               CAST(floor(exact * 100 + 0.5) AS BIGINT) AS exact_c2,
               CAST((1000000 * abs(CAST(floor(est * 100 + 0.5) AS BIGINT)
                 - CAST(floor(exact * 100 + 0.5) AS BIGINT)))
                 // CAST(floor(exact * 100 + 0.5) AS BIGINT) AS BIGINT)
                 AS err_ppm
             FROM exact ORDER BY q""")),

    Q("a_jenks_breaks",
      // Optimal 1-D segmentation / Jenks natural breaks (Fisher 1958;
      // tenth-proposal #3): the exact minimum-SSE partition of order
      // totals into k=4 classes, computed by dynamic programming ON
      // THE 64-BUCKET HISTOGRAM SKETCH, not the corpus — the corpus is
      // touched once to build (cnt, sum, sumsq) per bucket; the DP is
      // a bounded 64x64 pair frame plus three min-joins, every
      // intermediate broadcast-sized at ANY corpus scale (the
      // sketch-native complement of a_hist_quantiles: that query reads
      // ranks off the sketch, this one reads an optimal partition).
      // All integer: values quantize to tens of dollars (sumsq then
      // stays int64 through sf100 — stated, not assumed), segment cost
      // is the DEFINED floor cost(i,j) = ss_ij - floor(sum_ij^2 /
      // cnt_ij) (the true within-segment SSE floored — a documented
      // monotone truncation, error < 1 unit^2 per segment, identical
      // on both engines; the square is DECIMAL(38,0)/HUGEINT), DP ties
      // break to the smallest split index (total order). Published:
      // the three break positions (histogram bucket ids), the four
      // class populations, and the optimal total cost. The oracle
      // replays the identical DP in SQL.
      (s, d) => {
        val src = t(s, d, "orders")
          .select(expr("CAST(floor(o_totalprice + 0.5) AS BIGINT) div 10")
            .as("x"))
        val bounds = broadcast(src.agg(min("x").as("lo"), max("x").as("hi")))
        val wOrd = Window.orderBy("b") // <= 64-row frames throughout
        val pre = src.crossJoin(bounds)
          .withColumn("b", expr("(x - lo) div ((hi - lo) div 64 + 1)"))
          .groupBy("b").agg(count(lit(1)).as("cnt"), sum("x").as("sm"),
            sum(expr("x * x")).as("ss"))
          .withColumn("idx", row_number().over(wOrd))
          .withColumn("ccnt", sum("cnt").over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("csum", sum("sm").over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("css", sum("ss").over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .select("idx", "b", "ccnt", "csum", "css")
          .cutLineage() // one corpus pass; everything below is sketch-sized
        val m = broadcast(pre.agg(max("idx").as("m")))
        val zero = pre.sparkSession.range(1)
          .select(lit(0).as("idx"), lit(-1L).as("b"), lit(0L).as("ccnt"),
            lit(0L).as("csum"), lit(0L).as("css"))
        val pre0 = pre.unionByName(zero)
        val cost = pre0.select(col("idx").as("i"), col("ccnt").as("c_i"),
            col("csum").as("s_i"), col("css").as("q_i"))
          .crossJoin(pre.select(col("idx").as("j"), col("ccnt").as("c_j"),
            col("csum").as("s_j"), col("css").as("q_j")))
          .filter(col("i") < col("j"))
          .withColumn("cost", expr(
            "q_j - q_i - (CAST(s_j - s_i AS DECIMAL(38,0)) * (s_j - s_i))" +
              " div (c_j - c_i)"))
          .select("i", "j", "cost")
        val f1 = cost.filter(col("i") === 0)
          .select(col("j"), col("cost").as("f"))
        def level(prev: org.apache.spark.sql.DataFrame) =
          prev.select(col("j").as("i"), col("f").as("fp"))
            .join(cost, Seq("i"))
            .groupBy("j")
            .agg(min(struct((col("fp") + col("cost")).as("f"),
              col("i").as("a"))).as("m"))
            .select(col("j"), col("m.f").as("f"), col("m.a").as("a"))
        val f2 = level(f1)
        val f3 = level(f2)
        val f4 = level(f3)
        // backtrack the three split positions from the final cell
        val last = f4.join(m, col("j") === col("m")).select(
          col("f").as("total_cost"), col("a").as("p3"))
        val bt2 = last.join(f3.select(col("j").as("p3"), col("a").as("p2")),
          Seq("p3"))
        val bt1 = bt2.join(f2.select(col("j").as("p2"), col("a").as("p1")),
          Seq("p2"))
        bt1
          .join(pre.select(col("idx").as("p1"), col("b").as("break1"),
            col("ccnt").as("n1")), Seq("p1"))
          .join(pre.select(col("idx").as("p2"), col("b").as("break2"),
            col("ccnt").as("cc2")), Seq("p2"))
          .join(pre.select(col("idx").as("p3"), col("b").as("break3"),
            col("ccnt").as("cc3")), Seq("p3"))
          .crossJoin(broadcast(pre.agg(max("ccnt").as("ntot"))))
          .select(col("break1"), col("break2"), col("break3"),
            col("n1"), (col("cc2") - col("n1")).as("n2"),
            (col("cc3") - col("cc2")).as("n3"),
            (col("ntot") - col("cc3")).as("n4"), col("total_cost"))
      },
      Some("""WITH src AS (
               SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT) // 10 AS x
               FROM orders),
             bounds AS (SELECT min(x) AS lo, max(x) AS hi FROM src),
             hist AS (
               SELECT b, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(x) AS BIGINT) AS sm, CAST(sum(x * x) AS BIGINT) AS ss
               FROM (SELECT x, (x - lo) // ((hi - lo) // 64 + 1) AS b
                     FROM src, bounds) GROUP BY b),
             pre AS MATERIALIZED (
               SELECT row_number() OVER (ORDER BY b) AS idx, b,
                 sum(cnt) OVER w AS ccnt, sum(sm) OVER w AS csum,
                 sum(ss) OVER w AS css
               FROM hist
               WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING)),
             pre0 AS (SELECT * FROM pre
               UNION ALL SELECT 0, -1, 0, 0, 0),
             cost AS MATERIALIZED (
               SELECT a.idx AS i, c.idx AS j,
                 c.css - a.css - CAST((CAST(c.csum - a.csum AS HUGEINT)
                   * (c.csum - a.csum)) // (c.ccnt - a.ccnt) AS BIGINT)
                   AS cost
               FROM pre0 a JOIN pre c ON a.idx < c.idx),
             f1 AS MATERIALIZED (
               SELECT j, cost AS f FROM cost WHERE i = 0),
             f2 AS MATERIALIZED (
               SELECT j, f, a FROM (
                 SELECT c.j, p.f + c.cost AS f, c.i AS a, row_number() OVER (
                   PARTITION BY c.j ORDER BY p.f + c.cost, c.i) AS rn
                 FROM f1 p JOIN cost c ON c.i = p.j) WHERE rn = 1),
             f3 AS MATERIALIZED (
               SELECT j, f, a FROM (
                 SELECT c.j, p.f + c.cost AS f, c.i AS a, row_number() OVER (
                   PARTITION BY c.j ORDER BY p.f + c.cost, c.i) AS rn
                 FROM f2 p JOIN cost c ON c.i = p.j) WHERE rn = 1),
             f4 AS MATERIALIZED (
               SELECT j, f, a FROM (
                 SELECT c.j, p.f + c.cost AS f, c.i AS a, row_number() OVER (
                   PARTITION BY c.j ORDER BY p.f + c.cost, c.i) AS rn
                 FROM f3 p JOIN cost c ON c.i = p.j) WHERE rn = 1),
             last AS (
               SELECT f AS total_cost, a AS p3 FROM f4
               WHERE j = (SELECT max(idx) FROM pre)),
             bt AS (
               SELECT last.total_cost, f3.a AS p2, last.p3, f2s.a AS p1
               FROM last JOIN f3 ON f3.j = last.p3
               JOIN (SELECT j, a FROM f2) f2s ON f2s.j = f3.a)
             SELECT p1b.b AS break1, p2b.b AS break2, p3b.b AS break3,
               CAST(p1b.ccnt AS BIGINT) AS n1,
               CAST(p2b.ccnt - p1b.ccnt AS BIGINT) AS n2,
               CAST(p3b.ccnt - p2b.ccnt AS BIGINT) AS n3,
               CAST((SELECT max(ccnt) FROM pre) - p3b.ccnt AS BIGINT) AS n4,
               CAST(total_cost AS BIGINT) AS total_cost
             FROM bt JOIN pre p1b ON p1b.idx = bt.p1
               JOIN pre p2b ON p2b.idx = bt.p2
               JOIN pre p3b ON p3b.idx = bt.p3""")),

    Q("w17_cusum",
      // CUSUM changepoint detection (Page 1954) per event type over the
      // daily count series — the sequential drift detector that fires
      // on a SUSTAINED upward shift long before any single day trips a
      // z-score gate (w9's hourly test is the complementary point
      // detector). Integer-exact throughout: with n active days and
      // total count S for a type, day i's deviation is d_i = c_i*n - S
      // (counts cross-multiplied against the mean, the w9 trick), and
      // the textbook recurrence
      //   cusum_i = max(0, cusum_{i-1} + d_i)
      // is NOT a window aggregate — but it has a closed form,
      //   cusum_i = P_i - min(0, min_{j<=i} P_j)
      // with P the running prefix sum of d. Two windows sharing the
      // event_type partitioning (prefix sum + running min) replace the
      // sequential scan — which is exactly what makes the detector
      // distributable: each type's series is one hash partition, no
      // iteration, no state. Overflow audit (round-12 verdict #7): the
      // prefix sum is bounded by S*n_days (~2.2e11 at a 100x corpus,
      // seven orders inside int64) and the alarm compare by 2*S — no
      // widening needed; the bound is stated here, not assumed. The oracle deliberately computes the
      // LITERAL max(0,..) recurrence with a recursive CTE (depth =
      // days, never rows), so a green row is a machine-checked proof
      // of the prefix-min identity on this corpus. Alarm threshold
      // h = 2*S in the same n-scaled units — a cumulative excess worth
      // two full corpus-days above the mean.
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c"))
        val wT = Window.partitionBy("event_type")
        val wOrd = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("n", count(lit(1)).over(wT))
          .withColumn("s", sum("c").over(wT))
          .withColumn("p", sum(expr("c * n - s")).over(wOrd))
          .withColumn("cusum", col("p") - least(lit(0L), min("p").over(wOrd)))
          .withColumn("alarm", (col("cusum") > lit(2L) * col("s")).cast("int"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            max("cusum").as("max_cusum"),
            sum("alarm").as("n_alarm"),
            coalesce(min(when(col("alarm") === 1, col("day"))), lit(-1L))
              .as("first_alarm_day"))
          .orderBy("event_type")
      },
      Some("""WITH RECURSIVE daily AS (
               SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
             st AS (
               SELECT event_type, day, c,
                 CAST(count(*) OVER w AS BIGINT) AS n,
                 CAST(sum(c) OVER w AS BIGINT) AS s,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY day) AS rn
               FROM daily WINDOW w AS (PARTITION BY event_type)),
             rec AS (
               SELECT event_type, day, rn, n, s,
                 CAST(greatest(0, c * n - s) AS BIGINT) AS cusum
               FROM st WHERE rn = 1
               UNION ALL
               SELECT st.event_type, st.day, st.rn, st.n, st.s,
                 CAST(greatest(0, rec.cusum + st.c * st.n - st.s)
                   AS BIGINT) AS cusum
               FROM rec JOIN st ON st.event_type = rec.event_type
                 AND st.rn = rec.rn + 1)
             SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(max(cusum) AS BIGINT) AS max_cusum,
               CAST(sum(CASE WHEN cusum > 2 * s THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_alarm,
               CAST(coalesce(min(CASE WHEN cusum > 2 * s THEN day END), -1)
                 AS BIGINT) AS first_alarm_day
             FROM rec GROUP BY event_type ORDER BY event_type""")),

    Q("w25_segmented_trend",
      // Segmented trend around the detected changepoint (tenth-
      // proposal #2): w17's CUSUM statistic peaks at the classic
      // max-CUSUM changepoint estimate; this query SPLITS each event
      // type's daily series there (tie -> earliest day, a total order)
      // and fits the exact closed-form OLS slope on each side —
      // "did the drift the detector fired on actually change the
      // trend". No GD: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) over
      // integer sufficient statistics with x centered at the
      // changepoint (shift-invariant, keeps |x| <= series span), the
      // ppm quotient floored via the pmod shift (numerator is SIGNED)
      // in DECIMAL(38,0)/HUGEINT — 1e6 * n * Sxy brushes int64 at
      // 100x, so it is widened, not margin-argued. Also published:
      // the level shift between segment means in exact ppm. One
      // type-partitioned shuffle shared by the cusum windows and both
      // segment aggregates; types with a degenerate side (< 2 days)
      // drop out (documented — on this corpus's month-long event span
      // it can happen only when the peak sits at the boundary, and
      // the drop is loud, never a silent partial row).
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c"))
        val wT = Window.partitionBy("event_type")
        val wOrd = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cp = daily
          .withColumn("n", count(lit(1)).over(wT))
          .withColumn("s", sum("c").over(wT))
          .withColumn("p", sum(expr("c * n - s")).over(wOrd))
          .withColumn("cusum", col("p") - least(lit(0L), min("p").over(wOrd)))
          .groupBy("event_type")
          .agg(max(struct(col("cusum"), (lit(0L) - col("day")).as("nd")))
            .as("m"))
          .select(col("event_type"), (lit(0L) - col("m.nd")).as("cp_day"))
        def fdivDec(num: String, den: String) =
          s"CAST((($num) - pmod(($num), ($den))) div ($den) AS BIGINT)"
        val sides = daily.join(broadcast(cp), Seq("event_type"))
          .withColumn("side", when(col("day") <= col("cp_day"), 1).otherwise(2))
          .withColumn("x", col("day") - col("cp_day"))
          .groupBy("event_type", "side", "cp_day")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum(expr("x * x")).as("sxx"), sum("c").as("sy"),
            sum(expr("x * c")).as("sxy"))
          .filter(col("n") >= 2)
          .withColumn("num", expr(
            "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
          .withColumn("den", expr(
            "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
          .withColumn("slope_ppm",
            expr(fdivDec("CAST(1000000 AS DECIMAL(38,0)) * num", "den")))
        sides.groupBy("event_type", "cp_day")
          .agg(max(when(col("side") === 1, col("n"))).as("n1"),
            max(when(col("side") === 1, col("sy"))).as("sy1"),
            max(when(col("side") === 1, col("slope_ppm"))).as("slope1_ppm"),
            max(when(col("side") === 2, col("n"))).as("n2"),
            max(when(col("side") === 2, col("sy"))).as("sy2"),
            max(when(col("side") === 2, col("slope_ppm"))).as("slope2_ppm"))
          .filter(col("slope1_ppm").isNotNull && col("slope2_ppm").isNotNull)
          .withColumn("dmean_ppm", expr(fdivDec(
            "CAST(1000000 AS DECIMAL(38,0)) * (sy2 * n1 - sy1 * n2)",
            "CAST(n1 AS DECIMAL(38,0)) * n2")))
          .select("event_type", "cp_day", "n1", "slope1_ppm", "n2",
            "slope2_ppm", "dmean_ppm")
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
               SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
             st AS (
               SELECT *, CAST(count(*) OVER w AS BIGINT) AS n,
                 CAST(sum(c) OVER w AS BIGINT) AS s
               FROM daily WINDOW w AS (PARTITION BY event_type)),
             cu AS (
               SELECT event_type, day,
                 p - least(0, min(p) OVER (PARTITION BY event_type
                   ORDER BY day ROWS UNBOUNDED PRECEDING)) AS cusum
               FROM (SELECT *, sum(c * n - s) OVER (PARTITION BY event_type
                       ORDER BY day ROWS UNBOUNDED PRECEDING) AS p
                     FROM st)),
             cp AS (
               SELECT event_type, day AS cp_day FROM (
                 SELECT event_type, day, row_number() OVER (
                   PARTITION BY event_type ORDER BY cusum DESC, day) AS rn
                 FROM cu) WHERE rn = 1),
             seg AS (
               SELECT d.event_type, cp_day,
                 CASE WHEN d.day <= cp_day THEN 1 ELSE 2 END AS side,
                 d.day - cp_day AS x, c
               FROM daily d JOIN cp USING (event_type)),
             agg AS (
               SELECT event_type, side, cp_day,
                 CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(c) AS BIGINT) AS sy,
                 CAST(sum(x * c) AS BIGINT) AS sxy
               FROM seg GROUP BY 1, 2, 3),
             sl AS (
               SELECT *,
                 CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
                 CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
               FROM agg WHERE n >= 2),
             sp AS (
               SELECT event_type, cp_day, side, n, sy,
                 CAST(((1000000 * num) - (((1000000 * num) % den + den) % den))
                   // den AS BIGINT) AS slope_ppm
               FROM sl),
             pv AS (
               SELECT event_type, cp_day,
                 max(CASE WHEN side = 1 THEN n END) AS n1,
                 max(CASE WHEN side = 1 THEN sy END) AS sy1,
                 max(CASE WHEN side = 1 THEN slope_ppm END) AS slope1_ppm,
                 max(CASE WHEN side = 2 THEN n END) AS n2,
                 max(CASE WHEN side = 2 THEN sy END) AS sy2,
                 max(CASE WHEN side = 2 THEN slope_ppm END) AS slope2_ppm
               FROM sp GROUP BY 1, 2)
             SELECT event_type, cp_day, n1, slope1_ppm, n2, slope2_ppm,
               CAST((num2 - ((num2 % den2 + den2) % den2)) // den2 AS BIGINT)
                 AS dmean_ppm
             FROM (SELECT *,
                     CAST(1000000 AS HUGEINT) * (sy2 * n1 - sy1 * n2) AS num2,
                     CAST(n1 AS HUGEINT) * n2 AS den2
                   FROM pv
                   WHERE slope1_ppm IS NOT NULL AND slope2_ppm IS NOT NULL)
             ORDER BY event_type""")),

    Q("w26_kaplan_meier",
      // Kaplan-Meier survival (Kaplan & Meier 1958; tenth-proposal
      // #4): customer time-to-churn with right-censoring at the
      // horizon — the product-limit estimator behind every retention
      // curve, over the 6.5-year order history (the events table spans
      // only a month, so users there cannot churn; customers ARE the
      // honest survival subject on this corpus: 322 of 1500 churn at
      // sf0.01). A customer is a churn EVENT if their last order sits
      // more than 365 days before the last order date corpus-wide
      // (exact epoch-day integers), else CENSORED at the horizon;
      // observed time is whole months (div 30), ~66 distinct steps. The survival curve is a
      // cumulative PRODUCT of (n_t - d_t)/n_t — the rational-
      // compounding trap that made Holt-Winters infeasible-exact — so
      // each step applies the w22 monotone ppm truncation:
      //   S_ppm(t) = (S_ppm(t-1) * (n_t - d_t)) div n_t,
      // a documented lower bound within steps*1ppm of the exact
      // product, identical on both engines. Scale shape: ONE per-user
      // aggregate (the only corpus pass), then a <= span/30-row frame;
      // the fold runs as an `aggregate` HOF over the sorted step
      // array on Spark and a bounded recursive CTE in DuckDB (depth =
      // months, never rows). At-risk counts are suffix sums on that
      // bounded frame. Product headroom: 1e6 * n_users <= 6e13 at
      // sf100 — int64-safe, stated.
      (s, d) => {
        val users = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(expr("min(unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
              " div 86400000000)").as("fd"),
            expr("max(unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
              " div 86400000000)").as("ld"))
        val hz = broadcast(users.agg(max("ld").as("hz")))
        val obs = users.crossJoin(hz)
          .withColumn("churn", (col("ld") < col("hz") - 365).cast("long"))
          .withColumn("t", expr(
            "CASE WHEN ld < hz - 365 THEN (ld - fd) div 30" +
              " ELSE (hz - fd) div 30 END"))
        val steps = obs.groupBy("t")
          .agg(count(lit(1)).as("ending"), sum("churn").as("d"))
          .withColumn("n", sum("ending").over(Window.orderBy(col("t").desc)
            .rowsBetween(Window.unboundedPreceding, 0))) // suffix = at-risk
          .select("t", "n", "d")
        steps.agg(sort_array(collect_list(struct(col("t").as("t"),
            col("n").as("n"), col("d").as("d")))).as("arr"))
          .select(posexplode(col("arr")).as(Seq("pos", "r")), col("arr"))
          .withColumn("s_ppm", expr(
            "aggregate(slice(arr, 1, pos + 1), 1000000L," +
              " (acc, x) -> (acc * (x.n - x.d)) div x.n)"))
          .select(col("r.t").as("t_months"), col("r.n").as("n_at_risk"),
            col("r.d").as("d_churned"), col("s_ppm"))
          .orderBy("t_months")
      },
      Some("""WITH RECURSIVE users AS (
               SELECT o_custkey,
                 min(epoch_us(o_orderdate) // 86400000000) AS fd,
                 max(epoch_us(o_orderdate) // 86400000000) AS ld
               FROM orders GROUP BY o_custkey),
             hz AS (SELECT max(ld) AS hz FROM users),
             obs AS (
               SELECT CASE WHEN ld < hz - 365 THEN (ld - fd) // 30
                        ELSE (hz - fd) // 30 END AS t,
                 CASE WHEN ld < hz - 365 THEN 1 ELSE 0 END AS churn
               FROM users, hz),
             steps AS (
               SELECT t, CAST(count(*) AS BIGINT) AS ending,
                 CAST(sum(churn) AS BIGINT) AS d
               FROM obs GROUP BY t),
             st AS (
               SELECT t, d,
                 CAST(sum(ending) OVER (ORDER BY t DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
                 row_number() OVER (ORDER BY t) AS rn
               FROM steps),
             km AS (
               SELECT t, n, d, rn,
                 CAST((1000000 * (n - d)) // n AS BIGINT) AS s_ppm
               FROM st WHERE rn = 1
               UNION ALL
               SELECT st.t, st.n, st.d, st.rn,
                 CAST((km.s_ppm * (st.n - st.d)) // st.n AS BIGINT) AS s_ppm
               FROM km JOIN st ON st.rn = km.rn + 1)
             SELECT t AS t_months, n AS n_at_risk, d AS d_churned, s_ppm
             FROM km ORDER BY t_months""")),

    Q("w27_dtw_align",
      // Band-limited dynamic time warping (Sakoe & Chiba 1978;
      // tenth-proposal #5) between event types' daily count series —
      // the catalog's first SEQUENCE-ALIGNMENT operator class: which
      // series move together even when one lags the other, the
      // question lockstep correlation (w18's ACF is within-series)
      // cannot answer. Pure integers: |a_i - b_j| step costs over the
      // gap-filled day grid (missing days are real zeros, the w18
      // discipline), Sakoe-Chiba band +/-3 days, INF = 1e15 sentinel
      // with explicit no-overflow propagation (cost never adds to
      // INF). Scale shape: ONE corpus pass builds the per-type dense
      // arrays (map_from_entries + transform over the bounded span);
      // the DP is a nested `aggregate` HOF fold — outer over the <=
      // span days, inner over the 7 band offsets, carrying only the
      // 7-cell band — evaluated per type pair on a vocabulary-bounded
      // (types x types) frame that never re-touches the corpus. The
      // oracle replays the identical recurrence as a bounded recursive
      // CTE (depth = days) whose 7 band cells chain through DuckDB's
      // lateral column aliases. Feasibility bound stated: span <= ~400
      // days keeps both folds printable; longer horizons need the
      // anti-diagonal wavefront form (declared, not attempted).
      (s, d) => {
        val INF = "1000000000000000L"
        def cost(j: String) =
          s"abs(element_at(va, i + 1) - element_at(vb, ($j) + 1))"
        val best =
          s"""least(
             CASE WHEN k <= 5 THEN element_at(prev, k + 2) ELSE $INF END,
             element_at(prev, k + 1),
             CASE WHEN k >= 1 THEN element_at(nb, k) ELSE $INF END)"""
        val fold =
          s"""aggregate(
            sequence(0, CAST(tt - 1 AS INT)),
            array_repeat($INF, 7),
            (prev, i) -> aggregate(
              sequence(0, 6),
              CAST(array() AS array<bigint>),
              (nb, k) -> concat(nb, array(
                CASE WHEN i + k - 3 < 0 OR i + k - 3 > tt - 1 THEN $INF
                     WHEN i = 0 AND k = 3 THEN ${cost("i + k - 3")}
                     WHEN $best >= $INF THEN $INF
                     ELSE ${cost("i + k - 3")} + $best
                END))))"""
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c"))
        val bounds = broadcast(daily.agg(min("day").as("d0"),
          max("day").as("d1")))
        val ser = daily.groupBy("event_type")
          .agg(map_from_entries(collect_list(struct(col("day"), col("c"))))
            .as("m"))
          .crossJoin(bounds)
          .withColumn("v", expr("transform(sequence(0, CAST(d1 - d0 AS INT))," +
            " i -> coalesce(element_at(m, d0 + i), 0L))"))
          .select(col("event_type"), col("v"))
        ser.select(col("event_type").as("ta"), col("v").as("va"))
          .crossJoin(ser.select(col("event_type").as("tb"), col("v").as("vb")))
          .filter(col("ta") < col("tb")) // vocabulary-bounded pair frame
          .withColumn("tt", expr("CAST(size(va) AS BIGINT)"))
          .withColumn("band", expr(fold))
          .select(col("ta"), col("tb"), col("tt").as("n_days"),
            expr("element_at(band, 4)").as("dtw"))
          .orderBy("ta", "tb")
      },
      Some {
        val INF = "1000000000000000"
        def bexpr(k: Int): String = {
          val j = s"(i + 1 + $k - 3)"
          val cost = s"abs(list_extract(va, i + 2) - list_extract(vb, $j + 1))"
          val c1 =
            s"CASE WHEN $k <= 5 THEN list_extract(band, $k + 2) ELSE $INF END"
          val c2 = s"list_extract(band, $k + 1)"
          val c3 = if (k >= 1) s"b${k - 1}" else INF
          val best = s"least($c1, $c2, $c3)"
          s"""CASE WHEN $j < 0 OR $j > tt - 1 THEN $INF
              WHEN i + 1 = 0 AND $k = 3 THEN $cost
              WHEN $best >= $INF THEN $INF
              ELSE $cost + $best END AS b$k"""
        }
        val bs = (0 to 6).map(bexpr).mkString(",\n  ")
        s"""WITH RECURSIVE daily AS (
              SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2),
            bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
            grid AS (SELECT d0 + i AS day, i FROM (
                SELECT unnest(range(0, CAST(d1 - d0 + 1 AS BIGINT))) AS i
                FROM bounds), bounds),
            dense AS (SELECT t.event_type, g.i, coalesce(dd.c, 0) AS c
              FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN grid g
              LEFT JOIN daily dd
                ON dd.event_type = t.event_type AND dd.day = g.day),
            ser AS (SELECT event_type, list(c ORDER BY i) AS v
                    FROM dense GROUP BY 1),
            pairs AS (SELECT a.event_type AS ta, b.event_type AS tb,
                a.v AS va, b.v AS vb, CAST(len(a.v) AS BIGINT) AS tt
              FROM ser a JOIN ser b ON a.event_type < b.event_type),
            rec AS (
              SELECT ta, tb, va, vb, tt, CAST(-1 AS BIGINT) AS i,
                [CAST($INF AS BIGINT), $INF, $INF, $INF, $INF, $INF, $INF]
                  AS band
              FROM pairs
              UNION ALL
              SELECT ta, tb, va, vb, tt, i + 1,
                [b0, b1, b2, b3, b4, b5, b6] AS band
              FROM (SELECT *,
                $bs
                FROM rec WHERE i + 1 <= tt - 1) rec2)
            SELECT ta, tb, tt AS n_days, list_extract(band, 4) AS dtw
            FROM rec WHERE i = tt - 1 ORDER BY ta, tb"""
      }),

    Q("w18_acf",
      // Autocorrelation function (lags 1..7) of each event type's
      // daily count series — THE seasonality/persistence diagnostic
      // read before any forecasting or anomaly model (a weekly cycle
      // shows as a lag-7 peak; w16's decomposition ASSUMES a period,
      // this measures it). Gap-filled day grid (missing days are real
      // zeros, not absent samples — skipping them would splice
      // non-adjacent days together); deviations are the exact integer
      // cross-multiplication dev = c*n - S (the w9 trick), so the
      // num/den sufficient statistics are exact BIGINTs in any
      // aggregation order; the single num/den division is one IEEE
      // op on identical operands (num, den can exceed 2^53, so BOTH
      // engines round the same way converting — correctly-rounded and
      // deterministic, the v_mmr discipline), published as floored
      // ppm. |acf| <= 1 by Cauchy-Schwarz, so ppm stays in [-1e6,1e6].
      // Scale shape: the grid explode is span-bounded, the stats
      // window, the 7 leads, and the final rollup all share the
      // event_type partitioning — one shuffle end to end.
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c"))
        val grid = daily.groupBy("event_type")
          .agg(min("day").as("mins"), max("day").as("maxs"))
          .select(col("event_type"),
            explode(expr("sequence(mins, maxs)")).as("day"))
        val wT = Window.partitionBy("event_type")
        val wOrd = Window.partitionBy("event_type").orderBy("day")
        val x = grid.join(daily, Seq("event_type", "day"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .withColumn("n", count(lit(1)).over(wT))
          .withColumn("s", sum("c").over(wT))
          .withColumn("dev", expr("c * n - s"))
          .withColumn("den", sum(expr("dev * dev")).over(wT))
        val withLeads = (1 to 7).foldLeft(x) { (df, k) =>
          df.withColumn(s"dl$k", lead("dev", k).over(wOrd))
        }
        val lagged = withLeads.select(col("event_type"), col("dev"),
          col("den"),
          explode(array((1 to 7).map(k =>
            struct(lit(k).as("lag"), col(s"dl$k").as("devlag"))): _*)).as("l"))
          .select(col("event_type"), col("dev"), col("den"),
            col("l.lag").as("lag"), col("l.devlag").as("devlag"))
        lagged.groupBy("event_type", "lag")
          .agg(sum(expr("dev * devlag")).as("num"), max("den").as("den"),
            count(col("devlag")).as("n_pairs"))
          .withColumn("acf_ppm", expr(
            "CAST(floor(1000000 * (CAST(num AS DOUBLE) / " +
              "CAST(den AS DOUBLE)) + 0.5) AS BIGINT)"))
          .select("event_type", "lag", "n_pairs", "acf_ppm")
          .orderBy("event_type", "lag")
      },
      // Oracle: self-join pairing (t, t+k) instead of the lead window —
      // an independently-stated plan over the same integer statistics.
      Some("""WITH daily AS (
               SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
             bounds AS (SELECT event_type, min(day) AS mins, max(day) AS maxs
                        FROM daily GROUP BY 1),
             grid AS (SELECT event_type, unnest(range(mins, maxs + 1)) AS day
                      FROM bounds),
             x AS MATERIALIZED (
               SELECT g.event_type, g.day, coalesce(daily.c, 0) AS c
               FROM grid g LEFT JOIN daily
                 ON g.event_type = daily.event_type AND g.day = daily.day),
             st AS MATERIALIZED (
               SELECT event_type, day,
                 c * (count(*) OVER w) - (sum(c) OVER w) AS dev
               FROM x WINDOW w AS (PARTITION BY event_type)),
             den AS (SELECT event_type, CAST(sum(dev * dev) AS BIGINT) AS den
                     FROM st GROUP BY 1),
             lags AS (SELECT unnest(range(1, 8)) AS lag)
             SELECT a.event_type, CAST(lag AS INT) AS lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(floor(1000000 * (CAST(sum(a.dev * b.dev) AS DOUBLE)
                 / CAST(max(den.den) AS DOUBLE)) + 0.5) AS BIGINT) AS acf_ppm
             FROM st a
             JOIN lags ON true
             JOIN st b ON b.event_type = a.event_type
               AND b.day = a.day + lag
             JOIN den ON den.event_type = a.event_type
             GROUP BY a.event_type, lag
             ORDER BY a.event_type, lag""")),

    Q("a_hll_sliding",
      // Trailing-window distinct counting from MERGEABLE daily
      // sketches — the pattern that makes "7-day active users" viable
      // at 100 TB: per day, a 64-register HLL of user_id (the
      // a_hll_manual relational HLL); the trailing-7-day sketch is
      // just the per-register MAX over a RANGE frame — registers
      // merge, raw users are touched exactly once, and the window
      // never re-reads events (contrast the exact audit column, which
      // pays a days x window blowup and is the thing that stops
      // scaling). The register grid is densified (day x 64) so a
      // register set three days ago is visible to today's window even
      // if today hashed nothing into it; empty registers contribute
      // 2^40 exactly to the scaled-integer harmonic sum, and the only
      // float steps are the same one multiply chain + division as
      // a_hll_manual — bit-identical on both engines.
      (s, d) => {
        val days = t(s, d, "events")
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            col("user_id"))
        val dailyRegs = days.distinct()
          .withColumn("h", md5(col("user_id").cast("string")))
          .withColumn("idx", expr(
            "CAST(conv(substring(h, 1, 2), 16, 10) AS INT) % 64"))
          .withColumn("bits", expr("substring(h, 3, 16)"))
          .withColumn("z", length(regexp_extract(col("bits"), "^(0*)", 1)))
          .withColumn("rho", least(
            col("z") * 4 + expr(
              """CASE substring(bits, z + 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                 ELSE 0 END""") + 1,
            lit(40)))
          .groupBy("day", "idx").agg(max("rho").as("m"))
        val dayList = days.select("day").distinct()
        val grid = dayList
          .select(col("day"), explode(expr("sequence(0, 63)")).as("idx"))
        val wSlide = Window.partitionBy("idx").orderBy("day")
          .rangeBetween(-6, 0)
        val slid = grid.join(dailyRegs, Seq("day", "idx"), "left")
          .withColumn("mw", max("m").over(wSlide))
        val est = slid.groupBy("day")
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 40 - mw)"))
              .as("s_present"),
            count(col("mw")).as("n_regs"))
          .withColumn("v", lit(64) - col("n_regs"))
          .withColumn("s_scaled",
            col("s_present") + col("v") * lit(1099511627776L))
          .withColumn("e_raw", expr(
            "CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0 / s_scaled"))
          .withColumn("est", when(col("e_raw") <= 160.0 && col("v") > 0,
            expr("64.0 * ln(64.0 / v)")).otherwise(col("e_raw")))
        val exact = dayList.select(col("day").as("d0"))
          .join(days.select(col("day"), col("user_id")).distinct(),
            col("day").between(col("d0") - 6, col("d0")))
          .groupBy(col("d0").as("day"))
          .agg(countDistinct("user_id").as("n_exact"))
        exact.join(est.select("day", "est"), Seq("day"))
          .select(col("day"), col("n_exact"),
            round(col("est"), 2).as("n_hll"),
            round(abs(col("est") - col("n_exact")) / col("n_exact"), 4)
              .as("rel_err"))
          .orderBy("day")
      },
      Some("""WITH du AS MATERIALIZED (
               SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
               FROM events),
             regs AS MATERIALIZED (
               SELECT day, idx, max(rho) AS m FROM (
                 SELECT day,
                   CAST((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1)
                     AS INT) % 64 AS idx,
                   least(length(regexp_extract(substring(h, 3, 16),
                       '^(0*)', 1)) * 4
                     + CASE substring(substring(h, 3, 16),
                         length(regexp_extract(substring(h, 3, 16),
                           '^(0*)', 1)) + 1, 1)
                       WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                       WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                       WHEN '7' THEN 1 ELSE 0 END + 1, 40) AS rho
                 FROM (SELECT day, md5(CAST(user_id AS VARCHAR)) AS h FROM du))
               GROUP BY 1, 2),
             dl AS (SELECT DISTINCT day FROM du),
             grid AS (SELECT dl.day, unnest(range(0, 64)) AS idx FROM dl),
             slid AS MATERIALIZED (
               SELECT g.day,
                 max(regs.m) OVER (PARTITION BY g.idx ORDER BY g.day
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mw
               FROM grid g LEFT JOIN regs
                 ON g.day = regs.day AND g.idx = regs.idx),
             est AS (
               SELECT day, e_raw, v,
                 CASE WHEN e_raw <= 160.0 AND v > 0
                   THEN 64.0 * ln(64.0 / v) ELSE e_raw END AS est
               FROM (
                 SELECT day, v,
                   CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0
                     / (s_present + v * 1099511627776) AS e_raw
                 FROM (
                   SELECT day,
                     CAST(sum(CASE WHEN mw IS NOT NULL
                       THEN (CAST(1 AS BIGINT) << (40 - mw)) ELSE 0 END)
                       AS BIGINT) AS s_present,
                     64 - CAST(count(mw) AS BIGINT) AS v
                   FROM slid GROUP BY day))),
             exact AS (
               SELECT dl.day, CAST(count(DISTINCT du.user_id) AS BIGINT)
                 AS n_exact
               FROM dl JOIN du
                 ON du.day BETWEEN dl.day - 6 AND dl.day
               GROUP BY dl.day)
             SELECT exact.day, n_exact, round(est, 2) AS n_hll,
               round(abs(est - n_exact) / n_exact, 4) AS rel_err
             FROM exact JOIN est ON exact.day = est.day
             ORDER BY exact.day""")),

    Q("w24_walkforward",
      // Walk-forward (expanding-window) cross-validation assignment —
      // the TEMPORAL complement of x_group_kfold: time-series models
      // must evaluate on data strictly AFTER everything they trained
      // on, or the eval score is contaminated by future information.
      // Event days split into 5 contiguous tiles (ntile over the day
      // order — deterministic, both engines); fold k (k = 2..5) trains
      // on tiles < k and evaluates on tile k. Two audit columns per
      // fold: leak_wf COUNTS train events at-or-after the fold's eval
      // start (structurally zero — computed, never asserted), and
      // n_naive_future counts the events a HASH split (48-bit md5 of
      // event_id mod 5) would have put in TRAIN inside this fold's
      // eval window — the quantified future-leakage a non-temporal
      // split admits, exactly the x_group_kfold hazard-measurement
      // discipline. Tiles are a 30-row dimension (broadcast); the
      // corpus is touched twice (fold stats, leak recount), both
      // passes map-side-combinable aggregations.
      (s, d) => {
        val h5 = "pmod(CAST(conv(substring(md5(CAST(event_id AS STRING)), " +
          "1, 12), 16, 10) AS BIGINT), 5)"
        val ev = t(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("event_id"))
        val days = ev.select("day").distinct()
          .withColumn("tile", ntile(5).over(Window.orderBy("day")))
        val tagged = ev.join(broadcast(days), Seq("day"))
          .withColumn("h5", expr(h5))
        import s.implicits._
        val foldDim = broadcast((2 to 5).toDF("fold"))
        val base = tagged.crossJoin(foldDim)
        val stats = base.groupBy("fold").agg(
          countDistinct(when(col("tile") < col("fold"), col("day"))).as("train_days"),
          countDistinct(when(col("tile") === col("fold"), col("day"))).as("eval_days"),
          sum(when(col("tile") < col("fold"), 1L).otherwise(0L)).as("n_train"),
          sum(when(col("tile") === col("fold"), 1L).otherwise(0L)).as("n_eval"),
          min(when(col("tile") === col("fold"), col("day"))).as("eval_start"),
          max(when(col("tile") === col("fold"), col("day"))).as("eval_end"))
        base.join(broadcast(stats), Seq("fold"))
          .groupBy("fold")
          .agg(
            first("train_days").as("train_days"),
            first("eval_days").as("eval_days"),
            first("n_train").as("n_train"),
            first("n_eval").as("n_eval"),
            sum(when(col("tile") < col("fold") &&
              col("day") >= col("eval_start"), 1L).otherwise(0L)).as("leak_wf"),
            sum(when(col("h5") =!= (col("fold") - 1) &&
              col("day").between(col("eval_start"), col("eval_end")), 1L)
              .otherwise(0L)).as("n_naive_future"))
          .orderBy("fold")
      },
      Some {
        val nib = (i: Int) =>
          s"(strpos('0123456789abcdef', substring(md5(CAST(event_id AS VARCHAR)), $i, 1)) - 1)"
        val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day,
                 (($h48 % 5) + 5) % 5 AS h5
               FROM events),
             days AS (SELECT day, ntile(5) OVER (ORDER BY day) AS tile
                      FROM (SELECT DISTINCT day FROM ev)),
             tagged AS (SELECT ev.day, ev.h5, days.tile
                        FROM ev JOIN days USING (day)),
             folds AS (SELECT unnest(range(2, 6)) AS fold),
             stats AS (SELECT fold,
                 CAST(count(DISTINCT CASE WHEN tile < fold THEN day END)
                   AS BIGINT) AS train_days,
                 CAST(count(DISTINCT CASE WHEN tile = fold THEN day END)
                   AS BIGINT) AS eval_days,
                 CAST(sum(CASE WHEN tile < fold THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_train,
                 CAST(sum(CASE WHEN tile = fold THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_eval,
                 min(CASE WHEN tile = fold THEN day END) AS eval_start,
                 max(CASE WHEN tile = fold THEN day END) AS eval_end
               FROM tagged, folds GROUP BY fold)
             SELECT s.fold, s.train_days, s.eval_days, s.n_train, s.n_eval,
               CAST(sum(CASE WHEN t.tile < s.fold AND t.day >= s.eval_start
                 THEN 1 ELSE 0 END) AS BIGINT) AS leak_wf,
               CAST(sum(CASE WHEN t.h5 != s.fold - 1
                 AND t.day BETWEEN s.eval_start AND s.eval_end
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_naive_future
             FROM stats s, tagged t
             GROUP BY s.fold, s.train_days, s.eval_days, s.n_train, s.n_eval
             ORDER BY s.fold"""
      }),

    Q("w28_matrix_profile",
      // L1 matrix profile (after Yeh et al. 2016, integer L1 variant):
      // per event type, every length-4 sliding window of the DAILY
      // count series gets the distance to its nearest NON-TRIVIAL
      // match (exclusion zone |i-j| <= 2 removes self-overlap) — the
      // time-series primitive where minima are motifs (repeated
      // shapes) and maxima are discords (anomalous days). Scale
      // shape: the corpus is touched ONCE (the per-(type, day) count
      // aggregate); everything after runs on the span-bounded series
      // frame — the dense calendar is sequence(d0, d1) off a 1-row
      // global span aggregate, window assembly is 3 lead()s over
      // type-partitioned <=|days| rows, and the all-pairs step is a
      // type-keyed self-join of |days|-3 windows, T^2 per type with
      // T = calendar days, NEVER corpus rows (at 100 TB T only grows
      // with the time span; a years-long horizon is ~1e3 windows →
      // 1e6 bounded pairs per type). All distances exact BIGINTs;
      // nearest neighbor ties break to the earliest candidate day via
      // min(struct(dist, nn_day)); motif/discord flags compare
      // against the per-type extrema on the same bounded frame.
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"))
        val span = ev.agg(min("day").as("d0"), max("day").as("d1"))
        val days = span.select(explode(expr("sequence(d0, d1)")).as("day"))
        val grid = ev.select("event_type").distinct()
          .crossJoin(broadcast(days))
        val daily = ev.groupBy("event_type", "day")
          .agg(count(lit(1)).as("c"))
        val wOrd = Window.partitionBy("event_type").orderBy("day")
        val win = grid.join(daily, Seq("event_type", "day"), "left")
          .na.fill(0L, Seq("c"))
          .withColumn("i", row_number().over(wOrd))
          .withColumn("w0", col("c"))
          .withColumn("w1", lead("c", 1).over(wOrd))
          .withColumn("w2", lead("c", 2).over(wOrd))
          .withColumn("w3", lead("c", 3).over(wOrd))
          .filter(col("w3").isNotNull)
          .select("event_type", "day", "i", "w0", "w1", "w2", "w3")
        val a = win.as("a")
        val b = win.as("b")
        val prof = a.join(b,
            col("a.event_type") === col("b.event_type") &&
              abs(col("a.i") - col("b.i")) > 2)
          .select(col("a.event_type").as("event_type"),
            col("a.day").as("day"),
            (abs(col("a.w0") - col("b.w0")) + abs(col("a.w1") - col("b.w1")) +
              abs(col("a.w2") - col("b.w2")) + abs(col("a.w3") - col("b.w3")))
              .as("dist"),
            col("b.day").as("bday"))
          .groupBy("event_type", "day")
          .agg(min(struct(col("dist"), col("bday"))).as("m"))
          .select(col("event_type"), col("day"),
            col("m.dist").as("profile_l1"), col("m.bday").as("nn_day"))
        val ext = Window.partitionBy("event_type")
        prof
          .withColumn("is_motif",
            (col("profile_l1") === min("profile_l1").over(ext)).cast("int"))
          .withColumn("is_discord",
            (col("profile_l1") === max("profile_l1").over(ext)).cast("int"))
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("w_start"),
            col("profile_l1"),
            date_format(col("nn_day"), "yyyy-MM-dd").as("nn_start"),
            col("is_motif"), col("is_discord"))
          .orderBy("event_type", "w_start")
      },
      Some("""WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0,
                  max(CAST(ts AS DATE)) AS d1 FROM events),
              days AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS day FROM span),
              daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
              series AS (SELECT ty.event_type, days.day,
                  COALESCE(daily.c, 0) AS c
                FROM (SELECT DISTINCT event_type FROM events) ty
                CROSS JOIN days
                LEFT JOIN daily ON daily.event_type = ty.event_type
                  AND daily.day = days.day),
              win AS (SELECT event_type, day,
                  row_number() OVER w AS i,
                  c AS w0, lead(c, 1) OVER w AS w1,
                  lead(c, 2) OVER w AS w2, lead(c, 3) OVER w AS w3
                FROM series
                WINDOW w AS (PARTITION BY event_type ORDER BY day)),
              wf AS (SELECT * FROM win WHERE w3 IS NOT NULL),
              pairs AS (SELECT a.event_type, a.day,
                  abs(a.w0 - b.w0) + abs(a.w1 - b.w1) + abs(a.w2 - b.w2)
                    + abs(a.w3 - b.w3) AS dist,
                  b.day AS bday
                FROM wf a JOIN wf b ON a.event_type = b.event_type
                  AND abs(a.i - b.i) > 2),
              prof AS (SELECT event_type, day, dist AS profile_l1,
                  bday AS nn_day
                FROM (SELECT *, row_number() OVER (
                    PARTITION BY event_type, day
                    ORDER BY dist, bday) AS rn FROM pairs)
                WHERE rn = 1)
              SELECT event_type, strftime(day, '%Y-%m-%d') AS w_start,
                profile_l1,
                strftime(nn_day, '%Y-%m-%d') AS nn_start,
                CAST(profile_l1 = min(profile_l1)
                  OVER (PARTITION BY event_type) AS INT) AS is_motif,
                CAST(profile_l1 = max(profile_l1)
                  OVER (PARTITION BY event_type) AS INT) AS is_discord
              FROM prof ORDER BY event_type, w_start""")),

    Q("a_gini_split",
      // Exact CART split selection by Gini (Breiman et al. 1984): the
      // best binary threshold on order total predicting l_returnflag,
      // chosen on the 64-bucket class-count sketch — the corpus is
      // touched once (the FK join + per-(bucket, class) counts);
      // split evaluation runs on the dense 64-row cumulative frame and
      // candidate ranking on a bounded 63x63 pairwise compare. The
      // argmin is EXACT-RATIONAL, no floats: the weighted-Gini score
      // of split t is A/nL + B/nR with A = nL^2 - sum_c nLc^2 (and B
      // its right twin), compared lexicographically as (integer part
      // in BIGINT; fractional part ra*nR + rb*nL over nL*nR
      // cross-multiplied in DECIMAL(38,0)). The raw fraction
      // (ra*nR + rb*nL)/(nL*nR) lies in [0,2), so its integer carry
      // (0 or 1) is folded into qint and the remainder kept as fn < fd
      // BEFORE comparing — without that normalization two candidates
      // whose integer parts differ by 1 could be misranked (round-13
      // ADVICE finding, fixed identically on both engines; fn < fd
      // also tightens the pairwise product bound). Splitting off the
      // integer part is what keeps the pairwise products at n^4/2
      // (~6.5e34 at sf100, stated margin inside DECIMAL(38,0)/
      // HUGEINT) where the naive full-score cross-product (n^5) would
      // overflow at sf10. Ties (e.g. thresholds inside an empty bucket
      // run) break to the smallest bucket. The information-gain
      // variant is declared infeasible-exact: entropy needs sums of
      // p*log p, and no monotone integer substitution exists for a
      // SUM of logs (the Holt-Winters class). Published: top-5 splits
      // by exact rank with threshold cents, side sizes, and the
      // floor-ppm impurity for human eyes.
      (s, d) => {
        val joined = t(s, d, "lineitem")
          .join(t(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_returnflag").as("cls"),
            col("o_totalprice").as("x"))
        val bounds = joined.agg(min("x").as("lo"), max("x").as("hi"))
        val bucketExpr =
          "least(63, CAST(floor((x - lo) / ((hi - lo) / 64.0)) AS INT))"
        val hist = joined.crossJoin(broadcast(bounds))
          .withColumn("b", expr(bucketExpr))
          .groupBy("b").agg(
            sum(when(col("cls") === "A", 1L).otherwise(0L)).as("ca"),
            sum(when(col("cls") === "N", 1L).otherwise(0L)).as("cn"),
            sum(when(col("cls") === "R", 1L).otherwise(0L)).as("cr"))
          .cutLineage()
        val dense = s.range(64).toDF("b")
          .join(hist, Seq("b"), "left")
          .na.fill(0L, Seq("ca", "cn", "cr"))
        val tot = broadcast(dense.agg(sum("ca").as("ta"), sum("cn").as("tn"),
          sum("cr").as("tr")))
        val wCum = Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cand = dense
          .withColumn("la", sum("ca").over(wCum))
          .withColumn("ln", sum("cn").over(wCum))
          .withColumn("lr", sum("cr").over(wCum))
          .filter(col("b") < 63)
          .crossJoin(tot)
          .withColumn("nl", expr("la + ln + lr"))
          .withColumn("nr", expr("(ta - la) + (tn - ln) + (tr - lr)"))
          .withColumn("aa", expr(
            "CAST(nl AS DECIMAL(38,0)) * nl - (CAST(la AS DECIMAL(38,0)) * la" +
              " + CAST(ln AS DECIMAL(38,0)) * ln + CAST(lr AS DECIMAL(38,0)) * lr)"))
          .withColumn("bb", expr(
            "CAST(nr AS DECIMAL(38,0)) * nr" +
              " - (CAST(ta - la AS DECIMAL(38,0)) * (ta - la)" +
              " + CAST(tn - ln AS DECIMAL(38,0)) * (tn - ln)" +
              " + CAST(tr - lr AS DECIMAL(38,0)) * (tr - lr))"))
          .withColumn("fn0", expr(
            "CAST((aa - (aa div nl) * nl) * nr + (bb - (bb div nr) * nr) * nl" +
              " AS DECIMAL(38,0))"))
          .withColumn("fd", expr("CAST(nl AS DECIMAL(38,0)) * nr"))
          .withColumn("qint", expr(
            "CAST(aa div nl + bb div nr + fn0 div fd AS BIGINT)"))
          .withColumn("fn", expr(
            "CAST(fn0 - (fn0 div fd) * fd AS DECIMAL(38,0))"))
          .withColumn("g_ppm", expr(
            "CAST((1000000 * (aa * nr + bb * nl)) div (fd * (nl + nr)) AS BIGINT)"))
          .select("b", "nl", "nr", "qint", "fn", "fd", "g_ppm")
        val x = cand.as("x")
        val y = cand.as("y")
        val beats =
          (col("y.qint") < col("x.qint")) ||
            (col("y.qint") === col("x.qint") &&
              col("y.fn") * col("x.fd") < col("x.fn") * col("y.fd")) ||
            (col("y.qint") === col("x.qint") &&
              col("y.fn") * col("x.fd") === col("x.fn") * col("y.fd") &&
              col("y.b") < col("x.b"))
        x.join(y, beats, "left")
          .groupBy(col("x.b").as("split_bucket"), col("x.nl").as("n_left"),
            col("x.nr").as("n_right"), col("x.g_ppm").as("gini_ppm"))
          .agg((count(col("y.b")) + 1).as("rank"))
          .filter(col("rank") <= 5)
          .crossJoin(broadcast(bounds))
          .select(col("rank"), col("split_bucket"),
            expr("CAST(floor((lo + (split_bucket + 1) * ((hi - lo) / 64.0))" +
              " * 100 + 0.5) AS BIGINT)").as("thresh_c2"),
            col("n_left"), col("n_right"), col("gini_ppm"))
          .orderBy("rank")
      },
      Some("""WITH joined AS (
                SELECT l_returnflag AS cls, o_totalprice AS x
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              bounds AS (SELECT min(x) AS lo, max(x) AS hi FROM joined),
              hist AS (
                SELECT least(63, CAST(floor((x - lo) / ((hi - lo) / 64.0))
                    AS INT)) AS b,
                  CAST(sum(CASE WHEN cls = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                    AS ca,
                  CAST(sum(CASE WHEN cls = 'N' THEN 1 ELSE 0 END) AS BIGINT)
                    AS cn,
                  CAST(sum(CASE WHEN cls = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                    AS cr
                FROM joined, bounds GROUP BY 1),
              dense AS (
                SELECT CAST(r.b AS INT) AS b, COALESCE(ca, 0) AS ca,
                  COALESCE(cn, 0) AS cn, COALESCE(cr, 0) AS cr
                FROM (SELECT unnest(range(0, 64)) AS b) r
                LEFT JOIN hist ON hist.b = r.b),
              tot AS (SELECT sum(ca) AS ta, sum(cn) AS tn, sum(cr) AS tr
                      FROM dense),
              cand AS (
                SELECT b, nl, nr,
                  CAST(aa // nl + bb // nr + fn0 // fd AS BIGINT) AS qint,
                  fn0 % fd AS fn,
                  fd,
                  CAST((1000000 * (aa * nr + bb * nl))
                    // (fd * (nl + nr)) AS BIGINT)
                    AS g_ppm
                FROM (
                  SELECT b, nl, nr, aa, bb,
                    CAST((aa % nl) * nr + (bb % nr) * nl AS HUGEINT) AS fn0,
                    CAST(nl AS HUGEINT) * nr AS fd
                  FROM (
                  SELECT b, nl, nr,
                    CAST(nl AS HUGEINT) * nl
                      - (CAST(la AS HUGEINT) * la + CAST(ln AS HUGEINT) * ln
                        + CAST(lr AS HUGEINT) * lr) AS aa,
                    CAST(nr AS HUGEINT) * nr
                      - (CAST(ta - la AS HUGEINT) * (ta - la)
                        + CAST(tn - ln AS HUGEINT) * (tn - ln)
                        + CAST(tr - lr AS HUGEINT) * (tr - lr)) AS bb
                  FROM (
                    SELECT b,
                      sum(ca) OVER w AS la, sum(cn) OVER w AS ln,
                      sum(cr) OVER w AS lr,
                      sum(ca) OVER w + sum(cn) OVER w + sum(cr) OVER w AS nl,
                      (ta - sum(ca) OVER w) + (tn - sum(cn) OVER w)
                        + (tr - sum(cr) OVER w) AS nr,
                      ta, tn, tr
                    FROM dense, tot
                    WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING))
                  WHERE b < 63))),
              ranked AS (
                SELECT x.b AS split_bucket,
                  CAST(x.nl AS BIGINT) AS n_left,
                  CAST(x.nr AS BIGINT) AS n_right,
                  x.g_ppm AS gini_ppm,
                  CAST(1 + count(y.b) AS BIGINT) AS rank
                FROM cand x LEFT JOIN cand y
                  ON (y.qint < x.qint)
                  OR (y.qint = x.qint AND y.fn * x.fd < x.fn * y.fd)
                  OR (y.qint = x.qint AND y.fn * x.fd = x.fn * y.fd
                      AND y.b < x.b)
                GROUP BY 1, 2, 3, 4)
              SELECT rank, split_bucket,
                CAST(floor((lo + (split_bucket + 1) * ((hi - lo) / 64.0))
                  * 100 + 0.5) AS BIGINT) AS thresh_c2,
                n_left, n_right, gini_ppm
              FROM ranked, bounds
              WHERE rank <= 5 ORDER BY rank""")),

    Q("a_benford_audit",
      // Benford first-digit audit (Benford 1938; Hill 1995 for why
      // mixed-scale financial data obeys it) — the classic fraud/
      // data-quality screen: the first significant digit distribution
      // of order totals vs the Benford expectation. Everything is
      // integer-exact with zero runtime logarithms: the observed digit
      // is the leading character of the exact cents BIGINT rendered as
      // a string (no floor(log10) float ladder), and the expected
      // shares log10(1+1/d) are PUBLIC CONSTANTS hardcoded as ppm
      // literals on both engines — they sum to exactly 1,000,000, so
      // the in-row invariant is checkable by eye. One corpus pass onto
      // a 9-row frame; the max-gap digit (the auditor's starting
      // point) is flagged via a 9-row window. Synthetic TPC-H-style
      // totals are sums of uniformish parts, NOT Benford-distributed —
      // the large gaps this query reports on the test corpus are the
      // CORRECT readout (the audit detecting non-Benford data), which
      // the oracle confirms digit by digit.
      (s, d) => {
        val bppm = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
          66947L, 57992L, 51153L, 45757L)
        val expected = broadcast(s.range(1, 10).toDF("digit")
          .withColumn("expected_ppm",
            element_at(array(bppm.map(lit): _*), col("digit").cast("int"))))
        val obs = t(s, d, "orders")
          .select(expr("CAST(substring(CAST(CAST(floor(o_totalprice * 100" +
            " + 0.5) AS BIGINT) AS STRING), 1, 1) AS BIGINT)").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = broadcast(obs.agg(sum("n").as("tot")))
        expected.join(obs, Seq("digit"), "left").na.fill(0L, Seq("n"))
          .crossJoin(tot)
          .withColumn("observed_ppm", expr("(1000000 * n) div tot"))
          .withColumn("gap_ppm", abs(col("observed_ppm") - col("expected_ppm")))
          .withColumn("is_max_gap",
            (col("gap_ppm") === max("gap_ppm").over(Window.partitionBy()))
              .cast("int"))
          .select(col("digit"), col("n"), col("observed_ppm"),
            col("expected_ppm"), col("gap_ppm"), col("is_max_gap"))
          .orderBy("digit")
      },
      Some("""WITH expected AS (
                SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
                  (4, 96910), (5, 79181), (6, 66947), (7, 57992),
                  (8, 51153), (9, 45757)) AS t(digit, expected_ppm)),
              obs AS (
                SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100
                    + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                  CAST(count(*) AS BIGINT) AS n
                FROM orders GROUP BY 1),
              tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM obs)
              SELECT CAST(e.digit AS BIGINT) AS digit, COALESCE(o.n, 0) AS n,
                (1000000 * COALESCE(o.n, 0)) // tot AS observed_ppm,
                CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
                abs((1000000 * COALESCE(o.n, 0)) // tot - e.expected_ppm)
                  AS gap_ppm,
                CAST(abs((1000000 * COALESCE(o.n, 0)) // tot
                    - e.expected_ppm)
                  = max(abs((1000000 * COALESCE(o.n, 0)) // tot
                    - e.expected_ppm)) OVER () AS INT) AS is_max_gap
              FROM expected e LEFT JOIN obs o ON e.digit = o.digit, tot
              ORDER BY digit""")),

    Q("w29_runs_test",
      // Wald-Wolfowitz runs test (1940) — is each event type's daily
      // up/down move sequence random, or does drift/seasonality chain
      // moves together: R = number of maximal same-sign runs over the
      // day-over-day move signs (zero-moves dropped, the standard
      // treatment, documented). Under the null, E[R] = 1 + 2·n1·n2/n
      // and Var[R] = 2·n1·n2·(2·n1·n2 − n) / (n²·(n−1)) — both exact
      // rationals of tiny integers (n <= calendar days), so the
      // "beyond 2 sigma" verdict is decided by EXACT cross-
      // multiplication, no sqrt and no float: (R·n − n − 2·n1·n2)²
      // · (n−1) > 8·n1·n2·(2·n1·n2 − n) ⟺ (R − E)² > 4·Var. Scale
      // shape: one corpus pass to daily counts; signs, runs, and the
      // verdict all live on the type-partitioned calendar frame
      // (two lag() windows over <= |days| rows per type). Degenerate
      // series (n < 2 or single-sign, Var <= 0) report flag 0.
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"))
        val daily = ev.groupBy("event_type", "day")
          .agg(count(lit(1)).as("c"))
        val wOrd = Window.partitionBy("event_type").orderBy("day")
        val moves = daily
          .withColumn("prev", lag("c", 1).over(wOrd))
          .filter(col("prev").isNotNull && col("c") =!= col("prev"))
          .withColumn("sign", when(col("c") > col("prev"), 1).otherwise(-1))
          .withColumn("chg",
            when(col("sign") =!= lag("sign", 1).over(wOrd), 1L).otherwise(0L))
        moves.groupBy("event_type")
          .agg(sum(when(col("sign") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("sign") === -1, 1L).otherwise(0L)).as("n2"),
            (sum("chg") + 1).as("r"))
          .withColumn("n", col("n1") + col("n2"))
          .withColumn("mean_ppm", expr("(1000000 * (n + 2 * n1 * n2)) div n"))
          .withColumn("beyond_2sigma", expr(
            "CAST(n >= 2 AND 2 * n1 * n2 > n AND " +
              "(r * n - n - 2 * n1 * n2) * (r * n - n - 2 * n1 * n2)" +
              " * (n - 1) > 8 * n1 * n2 * (2 * n1 * n2 - n) AS INT)"))
          .select("event_type", "n1", "n2", "r", "mean_ppm", "beyond_2sigma")
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
              mv AS (
                SELECT event_type, day, c,
                  lag(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
                FROM daily),
              signs AS (
                SELECT event_type, day,
                  CASE WHEN c > prev THEN 1 ELSE -1 END AS sign
                FROM mv WHERE prev IS NOT NULL AND c != prev),
              runs AS (
                SELECT event_type, sign,
                  CASE WHEN sign != lag(sign) OVER (PARTITION BY event_type
                    ORDER BY day) THEN 1 ELSE 0 END AS chg
                FROM signs),
              st AS (
                SELECT event_type,
                  CAST(sum(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n1,
                  CAST(sum(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n2,
                  CAST(sum(chg) + 1 AS BIGINT) AS r
                FROM runs GROUP BY 1)
              SELECT event_type, n1, n2, r,
                (1000000 * (n1 + n2 + 2 * n1 * n2)) // (n1 + n2) AS mean_ppm,
                CAST(n1 + n2 >= 2 AND 2 * n1 * n2 > n1 + n2 AND
                  (r * (n1 + n2) - (n1 + n2) - 2 * n1 * n2)
                    * (r * (n1 + n2) - (n1 + n2) - 2 * n1 * n2)
                    * (n1 + n2 - 1)
                  > 8 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS INT)
                  AS beyond_2sigma
              FROM st ORDER BY event_type""")),

    Q("a_mann_whitney",
      // Mann-Whitney U (1947), exact with midranks: does returnflag-A's
      // extended-price distribution stochastically dominate R's — the
      // nonparametric two-sample test next to w14_ab_chisq's categorical
      // one. Everything is integer-exact on cents: U is computed WITHOUT
      // a global rank as U2_A = sum_v ca(v)·(2·cumR_lt(v) + cr(v))
      // (each A row beats the R rows strictly below it, half-credits
      // ties; x2 keeps the halves integral). cumR_lt avoids the
      // unpartitioned-window funnel with the a_hist_quantiles two-phase
      // trick on INTEGER bucketing — 64-row cross-bucket cumulative +
      // a within-bucket prefix window PARTITIONED by bucket (~1/64 of
      // the distinct values per task; at 100x recurse to 64^2 buckets
      // rather than widening the window). The oracle deliberately uses
      // the OTHER textbook formulation (flat midrank-sum window,
      // U = sum 2·midrank_A − nA(nA+1)) so green proves the identity,
      // not the code. Variance carries the full tie correction
      // Var = nAnR((n+1)n(n−1) − sum(t^3−t)) / (12n(n−1)) in
      // DECIMAL(38,0)/HUGEINT, and z^2 is published as a staged floor
      // division (the a_leverage discipline: q1 = (u2−nAnR)^2 div nAnR
      // first, monotone truncation documented): max intermediate ~2e32
      // at sf1, margin to ~sf30 stated here — the sqrt-free verdict is
      // the exact z2_e6 > 4e6 comparison. In-row invariants:
      // u2_a + u2_r = 2·nA·nR, effect size as exact ppm.
      (s, d) => {
        val vals = t(s, d, "lineitem")
          .filter(col("l_returnflag").isin("A", "R"))
          .select(col("l_returnflag").as("g"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
          .groupBy("v").agg(
            sum(when(col("g") === "A", 1L).otherwise(0L)).as("ca"),
            sum(when(col("g") === "R", 1L).otherwise(0L)).as("cr"))
          .cutLineage()
        val bounds = broadcast(vals.agg(min("v").as("lo"), max("v").as("hi")))
        val bucketed = vals.crossJoin(bounds)
          .withColumn("b", expr("least(63, ((v - lo) * 64) div (hi - lo + 1))"))
        val byBucket = bucketed.groupBy("b").agg(sum("cr").as("br"))
          .withColumn("cum_r_below", expr(
            "sum(br) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) - br"))
        val wIn = Window.partitionBy("b").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cums = bucketed.join(broadcast(byBucket), Seq("b"))
          .withColumn("cum_r_lt",
            col("cum_r_below") + sum("cr").over(wIn) - col("cr"))
        val st = cums.agg(
          sum("ca").as("n_a"), sum("cr").as("n_r"),
          sum(expr("ca * (2 * cum_r_lt + cr)")).as("u2_a"),
          sum(when(col("ca") + col("cr") > 1, 1L).otherwise(0L))
            .as("n_tie_groups"),
          sum(expr("CAST(ca + cr AS DECIMAL(38,0)) * (ca + cr) * (ca + cr)" +
            " - (ca + cr)")).as("tt"))
        st
          .withColumn("n", expr("n_a + n_r"))
          .withColumn("u2_r", expr("2 * n_a * n_r - u2_a"))
          .withColumn("effect_ppm",
            expr("(1000000 * u2_a) div (2 * n_a * n_r)"))
          .withColumn("q1", expr(
            "(CAST(u2_a - n_a * n_r AS DECIMAL(38,0)) * (u2_a - n_a * n_r))" +
              " div (CAST(n_a AS DECIMAL(38,0)) * n_r)"))
          .withColumn("z2_e6", expr(
            "CAST((CAST(3000000 AS DECIMAL(38,0)) * n * (n - 1) * q1)" +
              " div (CAST(n + 1 AS DECIMAL(38,0)) * n * (n - 1) - tt)" +
              " AS BIGINT)"))
          .select(col("n_a"), col("n_r"), col("u2_a"),
            col("u2_r"), col("effect_ppm"), col("n_tie_groups"),
            col("z2_e6"),
            expr("CAST(sign(u2_a - n_a * n_r) AS BIGINT)").as("a_shifted"))
      },
      Some("""WITH vals AS (
                SELECT l_returnflag AS g,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
                FROM lineitem WHERE l_returnflag IN ('A', 'R')),
              grp AS (
                SELECT v,
                  CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                    AS ca,
                  CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                    AS cr
                FROM vals GROUP BY 1),
              ranked AS (
                SELECT v, ca, cr,
                  sum(ca + cr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    - (ca + cr) AS cnt_lt
                FROM grp),
              st AS (
                SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                  CAST(sum(cr) AS BIGINT) AS n_r,
                  CAST(sum(ca * (2 * cnt_lt + (ca + cr) + 1)) AS BIGINT)
                    AS mid2_a,
                  CAST(sum(CASE WHEN ca + cr > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tie_groups,
                  CAST(sum(CAST(ca + cr AS HUGEINT) * (ca + cr) * (ca + cr)
                    - (ca + cr)) AS HUGEINT) AS tt
                FROM ranked)
              SELECT n_a, n_r,
                CAST(mid2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
                CAST(2 * n_a * n_r - (mid2_a - n_a * (n_a + 1)) AS BIGINT)
                  AS u2_r,
                (1000000 * (mid2_a - n_a * (n_a + 1))) // (2 * n_a * n_r)
                  AS effect_ppm,
                n_tie_groups,
                CAST((CAST(3000000 AS HUGEINT) * (n_a + n_r)
                    * (n_a + n_r - 1)
                    * ((CAST(mid2_a - n_a * (n_a + 1) - n_a * n_r
                        AS HUGEINT)
                      * (mid2_a - n_a * (n_a + 1) - n_a * n_r))
                      // (CAST(n_a AS HUGEINT) * n_r)))
                  // (CAST(n_a + n_r + 1 AS HUGEINT) * (n_a + n_r)
                    * (n_a + n_r - 1) - tt) AS BIGINT) AS z2_e6,
                CAST(sign(mid2_a - n_a * (n_a + 1) - n_a * n_r) AS BIGINT)
                  AS a_shifted
              FROM st""")),

    Q("a_ansari_bradley",
      // Ansari-Bradley scale test (1960; nineteenth-proposal #5) —
      // the DISPERSION counterpart of a_mann_whitney's location test:
      // do returnflag A's and R's extended prices spread differently
      // around a common center. Pooled ranks fold end-inward, so
      // central observations score high: the catalog computes the
      // MIDRANK-FOLD variant — per distinct value, the doubled
      // midrank mid2 = 2*cnt_lt + c + 1 folds to s2 = min(mid2,
      // 2(N+1) - mid2) — which agrees with the textbook
      // average-the-folded-scores tie handling except for a tie group
      // STRADDLING the fold point (at most one group, where averaging
      // would shave the fold's kink); the variant is stated because it
      // keeps every score an INTEGER in doubled units on both engines
      // (averaging folded scores yields denominators that vary per
      // tie group). Same two-phase bucketed cumulative as
      // a_mann_whitney for cnt_lt — never an unpartitioned window
      // over the distinct-value frame. Moments from the realized
      // score frame (exact under H0 conditional on ties): E2_A =
      // n_a*S_tot2/N floored to integer doubled units, Var from
      // W = N*sum(c*s2^2) - S_tot2^2 in DECIMAL(38,0) (peaks ~8e25
      // at sf1, fits to ~sf100); z2_e6 stages as q1 = (1e6*diff^2*
      // (N-1)) div W (numerator <= ~6e37 at sf1 — the stated
      // DECIMAL(38,0) ceiling, margin ~1.6x documented rather than
      // assumed) then (q1*N^2) div (n_a*n_r), truncation <= ~4e-6
      // (the second stage amplifies the first floor by N^2/(n_a n_r)
      // ~= 4). Verdict vs chi-square(1) 95% = 3.841459;
      // a_less_dispersed = sign(diff) (a HIGH fold score is a CENTRAL
      // rank, so positive deviation means A concentrates).
      (s, d) => {
        val vals = t(s, d, "lineitem")
          .filter(col("l_returnflag").isin("A", "R"))
          .select(col("l_returnflag").as("g"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
          .groupBy("v").agg(
            sum(when(col("g") === "A", 1L).otherwise(0L)).as("ca"),
            sum(when(col("g") === "R", 1L).otherwise(0L)).as("cr"))
          .cutLineage()
        val bounds = broadcast(vals.agg(min("v").as("lo"), max("v").as("hi"),
          sum("ca").as("n_a"), sum("cr").as("n_r")))
        val bucketed = vals.crossJoin(bounds)
          .withColumn("b", expr("least(63, ((v - lo) * 64) div (hi - lo + 1))"))
        val byBucket = bucketed.groupBy("b")
          .agg(sum(expr("ca + cr")).as("bc"))
          .withColumn("cum_below", expr(
            "sum(bc) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) - bc"))
        val wIn = Window.partitionBy("b").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val scored = bucketed.join(broadcast(byBucket), Seq("b"))
          .withColumn("cnt", expr("ca + cr"))
          .withColumn("cnt_lt",
            col("cum_below") + sum("cnt").over(wIn) - col("cnt"))
          .withColumn("nn", expr("n_a + n_r"))
          .withColumn("mid2", expr("2 * cnt_lt + cnt + 1"))
          .withColumn("s2", expr("least(mid2, 2 * (nn + 1) - mid2)"))
        scored.agg(
            max("n_a").as("n_a"), max("n_r").as("n_r"),
            sum(expr("ca * s2")).as("ab2_a"),
            sum(expr("cnt * s2")).as("s_tot2"),
            sum(expr("CAST(cnt AS DECIMAL(38,0)) * s2 * s2")).as("q"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_tie_groups"))
          .withColumn("n", expr("n_a + n_r"))
          .withColumn("e2", expr(
            "CAST((CAST(n_a AS DECIMAL(38,0)) * s_tot2) div n AS BIGINT)"))
          .withColumn("diff", expr("ab2_a - e2"))
          .withColumn("w", expr(
            "greatest(CAST(n AS DECIMAL(38,0)) * q" +
              " - CAST(s_tot2 AS DECIMAL(38,0)) * s_tot2," +
              " CAST(1 AS DECIMAL(38,0)))"))
          .withColumn("q1", expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * diff * diff * (n - 1))" +
              " div w"))
          .withColumn("z2_e6", expr(
            "CAST((q1 * n * n) div (CAST(n_a AS DECIMAL(38,0)) * n_r)" +
              " AS BIGINT)"))
          .select(col("n_a"), col("n_r"), col("ab2_a"), col("s_tot2"),
            col("n_tie_groups"), col("z2_e6"),
            expr("CAST(sign(diff) AS BIGINT)").as("a_less_dispersed"),
            expr("CAST(CASE WHEN z2_e6 > 3841459 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("significant"))
      },
      Some("""WITH vals AS (
                SELECT l_returnflag AS g,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
                FROM lineitem WHERE l_returnflag IN ('A', 'R')),
              grp AS (
                SELECT v,
                  CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                    AS ca,
                  CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                    AS cr
                FROM vals GROUP BY 1),
              tots AS (
                SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                  CAST(sum(cr) AS BIGINT) AS n_r
                FROM grp),
              ranked AS (
                SELECT v, ca, cr, ca + cr AS cnt,
                  sum(ca + cr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    - (ca + cr) AS cnt_lt
                FROM grp),
              scored AS (
                SELECT r.*, t.n_a, t.n_r, t.n_a + t.n_r AS nn,
                  least(2 * cnt_lt + cnt + 1,
                    2 * (t.n_a + t.n_r + 1) - (2 * cnt_lt + cnt + 1)) AS s2
                FROM ranked r CROSS JOIN tots t),
              st AS (
                SELECT max(n_a) AS n_a, max(n_r) AS n_r,
                  CAST(sum(ca * s2) AS BIGINT) AS ab2_a,
                  CAST(sum(cnt * s2) AS BIGINT) AS s_tot2,
                  CAST(sum(CAST(cnt AS HUGEINT) * s2 * s2) AS HUGEINT) AS q,
                  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_tie_groups
                FROM scored),
              st2 AS (
                SELECT *, n_a + n_r AS n,
                  CAST((CAST(n_a AS HUGEINT) * s_tot2) // (n_a + n_r)
                    AS BIGINT) AS e2
                FROM st),
              st3 AS (
                SELECT *, ab2_a - e2 AS diff,
                  greatest(CAST(n AS HUGEINT) * q
                    - CAST(s_tot2 AS HUGEINT) * s_tot2,
                    CAST(1 AS HUGEINT)) AS w
                FROM st2),
              st4 AS (
                SELECT *,
                  (CAST(1000000 AS HUGEINT) * diff * diff * (n - 1)) // w
                    AS q1
                FROM st3)
              SELECT n_a, n_r, ab2_a, s_tot2, n_tie_groups,
                CAST((q1 * n * n) // (CAST(n_a AS HUGEINT) * n_r)
                  AS BIGINT) AS z2_e6,
                CAST(sign(diff) AS BIGINT) AS a_less_dispersed,
                CAST(CASE WHEN (q1 * n * n)
                  // (CAST(n_a AS HUGEINT) * n_r) > 3841459
                  THEN 1 ELSE 0 END AS BIGINT) AS significant
              FROM st4""")),

    Q("a_spearman_rho",
      // Spearman rank correlation, exact with midranks (Spearman 1904;
      // sixteenth-proposal #1) — Pearson on midranks, the
      // monotone-association sibling of a_kendall_tau over the same
      // (quantity, price-cents) pair. Midranks are halves, so all rank
      // arithmetic runs in DOUBLED units (R2 = 2·#less + cnt + 1,
      // integer; correlation is affine-invariant so the doubling
      // cancels). The quantity side cumulates on its <= 50-value
      // vocabulary frame; the price side avoids the unpartitioned-
      // window funnel with the a_mann_whitney two-phase bucketing
      // (64-row cross-bucket cumulative + within-bucket prefix windows
      // PARTITIONED by bucket). Moments are DECIMAL(38,0) cell sums;
      // the published A, B, C are n^2-normalized staged floors (the
      // a_leverage discipline — A_n2 = abs(n·Sxy − Sx·Sy) div n^2,
      // abs BEFORE the floor because Spark div truncates toward zero
      // while DuckDB // floors and they only agree on nonnegative
      // operands), rho^2 in exact floored e6 from the normalized
      // values plus the sign. Margins stated: the normalized A/B/C
      // are ~4n^2 (int64 through ~sf25), the e6 numerator ~1.6e34 at
      // sf30 inside DECIMAL(38,0). In-row invariant: Sx = n(n+1)
      // exactly (midranks preserve the rank total), published as
      // sx_ok. The oracle states the flat midrank formulation with
      // plain windows — green proves the two-phase rank decomposition
      // against the definition.
      (s, d) => {
        val cells = t(s, d, "lineitem")
          .select(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("x"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
              .as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("cnt"))
          .cutLineage()
        val xr = cells.groupBy("x").agg(sum("cnt").as("cx"))
          .withColumn("clt", expr( // <= 50-row frame, bounded window
            "sum(cx) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - cx"))
          .select(col("x"), expr("2 * clt + cx + 1").as("r2x"))
        val yv = cells.groupBy("y").agg(sum("cnt").as("cy"))
        val bounds = broadcast(yv.agg(min("y").as("lo"), max("y").as("hi")))
        val by = yv.crossJoin(bounds)
          .withColumn("b", expr("least(63, ((y - lo) * 64) div (hi - lo + 1))"))
        val byBucket = by.groupBy("b").agg(sum("cy").as("bc"))
          .withColumn("cum_below", expr(
            "sum(bc) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) - bc"))
        val wIn = Window.partitionBy("b").orderBy("y")
          .rowsBetween(Window.unboundedPreceding, 0)
        val yr = by.join(broadcast(byBucket), Seq("b"))
          .withColumn("clt", col("cum_below") + sum("cy").over(wIn) - col("cy"))
          .select(col("y"), expr("2 * clt + cy + 1").as("r2y"))
        cells.join(broadcast(xr), Seq("x")).join(yr, Seq("y"))
          .agg(sum("cnt").as("n"), count(lit(1)).as("n_cells"),
            sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2x")).as("sx"),
            sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2y")).as("sy"),
            sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2x * r2x")).as("sxx"),
            sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2y * r2y")).as("syy"),
            sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2x * r2y")).as("sxy"))
          .withColumn("a_n2", expr(
            "abs(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy)" +
              " div (CAST(n AS DECIMAL(38,0)) * n)"))
          .withColumn("b_n2", expr(
            "(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)" +
              " div (CAST(n AS DECIMAL(38,0)) * n)"))
          .withColumn("c_n2", expr(
            "(CAST(n AS DECIMAL(38,0)) * syy - sy * sy)" +
              " div (CAST(n AS DECIMAL(38,0)) * n)"))
          .select(col("n"), col("n_cells"),
            col("a_n2"), col("b_n2"), col("c_n2"),
            expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * a_n2 * a_n2)" +
              " div (CAST(b_n2 AS DECIMAL(38,0)) * c_n2) AS BIGINT)")
              .as("rho2_e6"),
            expr("CAST(sign(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy)" +
              " AS BIGINT)").as("rho_sign"),
            expr("CAST(IF(sx = CAST(n AS DECIMAL(38,0)) * (n + 1), 1, 0)" +
              " AS INT)").as("sx_ok"))
      },
      Some("""WITH cells AS (
                SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY 1, 2),
              xr AS (
                SELECT x, 2 * (sum(cx) OVER (ORDER BY x
                    ROWS UNBOUNDED PRECEDING) - cx) + cx + 1 AS r2x
                FROM (SELECT x, sum(cnt) AS cx FROM cells GROUP BY x)),
              yr AS (
                SELECT y, 2 * (sum(cy) OVER (ORDER BY y
                    ROWS UNBOUNDED PRECEDING) - cy) + cy + 1 AS r2y
                FROM (SELECT y, sum(cnt) AS cy FROM cells GROUP BY y)),
              mm AS (
                SELECT CAST(sum(cnt) AS BIGINT) AS n,
                  CAST(count(*) AS BIGINT) AS n_cells,
                  CAST(sum(CAST(cnt AS HUGEINT) * r2x) AS HUGEINT) AS sx,
                  CAST(sum(CAST(cnt AS HUGEINT) * r2y) AS HUGEINT) AS sy,
                  CAST(sum(CAST(cnt AS HUGEINT) * r2x * r2x) AS HUGEINT)
                    AS sxx,
                  CAST(sum(CAST(cnt AS HUGEINT) * r2y * r2y) AS HUGEINT)
                    AS syy,
                  CAST(sum(CAST(cnt AS HUGEINT) * r2x * r2y) AS HUGEINT)
                    AS sxy
                FROM cells JOIN xr USING (x) JOIN yr USING (y)),
              fin AS (
                SELECT n, n_cells,
                  abs(n * sxy - sx * sy) // (CAST(n AS HUGEINT) * n)
                    AS a_n2,
                  (n * sxx - sx * sx) // (CAST(n AS HUGEINT) * n) AS b_n2,
                  (n * syy - sy * sy) // (CAST(n AS HUGEINT) * n) AS c_n2,
                  CAST(sign(n * sxy - sx * sy) AS BIGINT) AS rho_sign,
                  CASE WHEN sx = CAST(n AS HUGEINT) * (n + 1)
                    THEN 1 ELSE 0 END AS sx_ok
                FROM mm)
              SELECT n, n_cells,
                CAST(a_n2 AS BIGINT) AS a_n2,
                CAST(b_n2 AS BIGINT) AS b_n2,
                CAST(c_n2 AS BIGINT) AS c_n2,
                CAST((CAST(1000000 AS HUGEINT) * a_n2 * a_n2)
                  // (CAST(b_n2 AS HUGEINT) * c_n2) AS BIGINT) AS rho2_e6,
                rho_sign, CAST(sx_ok AS INT) AS sx_ok
              FROM fin""")),

    Q("a_kruskal_wallis",
      // Kruskal-Wallis H (1952), exact with midranks (seventeenth-
      // proposal #1): the k-group generalization closing the rank-test
      // lineage a_mann_whitney -> a_spearman_rho — do the THREE
      // returnflag groups share one extended-price distribution.
      // Doubled-unit midranks (r2 = 2*cnt_lt + cnt + 1 per distinct
      // cent value, so midrank halves stay integral; H is computed
      // from doubled rank sums S2_g with the 1/4 folded into the
      // constant: H = 3/(N(N+1)) * sum_g S2_g^2/n_g - 3(N+1)). The
      // pooled cumulative reuses the a_mann_whitney two-phase trick —
      // 64-row cross-bucket cumulative + a within-bucket prefix window
      // PARTITIONED by bucket (at 100x recurse to 64^2 buckets, never
      // widen a window). Tie correction is the full
      // C = 1 - sum(t^3-t)/(N^3-N), applied as h_corr = h*(N^3-N)/
      // (N^3-N-TT). Staged floors (the a_leverage discipline, monotone
      // truncation documented): each group's term divides by its FULL
      // denominator n_g*N*(N+1) in one floor-div — the numerator
      // 3e6*S2_g^2 peaks ~1.7e33 at sf1 (DECIMAL(38,0) margin to
      // ~sf15) while the QUOTIENT stays ~e6*H, inside BIGINT (Spark's
      // `div` returns BIGINT, so a per-group div by n_g alone would
      // overflow long at ~8.6e20); the three floors cost <= 3 e-6
      // units, and the near-cancelling `- 3e6*(N+1)` is clamped at 0
      // (H >= 0 exactly; the floors can dip <= 3 ulp below zero, and
      // Spark div / DuckDB // only agree on nonnegative operands).
      // The oracle deliberately ranks on the FLAT midrank window (no
      // bucketing) so green proves the two-phase identity, not the
      // code. Verdict: h_corr_e6 vs the chi-square(2) 95% critical
      // value 5.991465 as an exact integer comparison — sqrt/libm-free.
      (s, d) => {
        val vals = t(s, d, "lineitem")
          .select(col("l_returnflag").as("g"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
          .groupBy("v").agg(
            sum(when(col("g") === "A", 1L).otherwise(0L)).as("ca"),
            sum(when(col("g") === "N", 1L).otherwise(0L)).as("cn"),
            sum(when(col("g") === "R", 1L).otherwise(0L)).as("cr"))
          .withColumn("cnt", expr("ca + cn + cr"))
          .cutLineage()
        val bounds = broadcast(vals.agg(min("v").as("lo"), max("v").as("hi")))
        val bucketed = vals.crossJoin(bounds)
          .withColumn("b", expr("least(63, ((v - lo) * 64) div (hi - lo + 1))"))
        val byBucket = bucketed.groupBy("b").agg(sum("cnt").as("bc"))
          .withColumn("cum_below", expr(
            "sum(bc) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) - bc"))
        val wIn = Window.partitionBy("b").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cums = bucketed.join(broadcast(byBucket), Seq("b"))
          .withColumn("cnt_lt",
            col("cum_below") + sum("cnt").over(wIn) - col("cnt"))
          .withColumn("r2", expr("2 * cnt_lt + cnt + 1"))
        cums.agg(
            sum("ca").as("n_a"), sum("cn").as("n_n"), sum("cr").as("n_r"),
            sum(expr("ca * r2")).as("s2_a"),
            sum(expr("cn * r2")).as("s2_n"),
            sum(expr("cr * r2")).as("s2_r"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_tie_groups"),
            sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tt"))
          .withColumn("n", expr("n_a + n_n + n_r"))
          .withColumn("h_e6", expr(
            "greatest(CAST(0 AS BIGINT)," +
              " (CAST(3000000 AS DECIMAL(38,0)) * s2_a * s2_a)" +
              "   div (CAST(n_a AS DECIMAL(38,0)) * n * (n + 1))" +
              " + (CAST(3000000 AS DECIMAL(38,0)) * s2_n * s2_n)" +
              "   div (CAST(n_n AS DECIMAL(38,0)) * n * (n + 1))" +
              " + (CAST(3000000 AS DECIMAL(38,0)) * s2_r * s2_r)" +
              "   div (CAST(n_r AS DECIMAL(38,0)) * n * (n + 1))" +
              " - 3000000 * (n + 1))"))
          .withColumn("h_corr_e6", expr(
            "CAST((CAST(h_e6 AS DECIMAL(38,0))" +
              " * (CAST(n AS DECIMAL(38,0)) * n * n - n))" +
              " div (CAST(n AS DECIMAL(38,0)) * n * n - n - tt) AS BIGINT)"))
          .select(col("n"), col("n_a"), col("n_n"), col("n_r"),
            col("s2_a"), col("s2_n"), col("s2_r"), col("n_tie_groups"),
            col("h_e6"), col("h_corr_e6"),
            expr("CAST(CASE WHEN h_corr_e6 > 5991465 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("significant"))
      },
      Some("""WITH vals AS (
                SELECT l_returnflag AS g,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
                FROM lineitem),
              grp AS (
                SELECT v,
                  CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                  CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn,
                  CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
                FROM vals GROUP BY 1),
              ranked AS (
                SELECT v, ca, cn, cr, ca + cn + cr AS cnt,
                  sum(ca + cn + cr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    - (ca + cn + cr) AS cnt_lt
                FROM grp),
              st AS (
                SELECT
                  CAST(sum(ca) AS BIGINT) AS n_a,
                  CAST(sum(cn) AS BIGINT) AS n_n,
                  CAST(sum(cr) AS BIGINT) AS n_r,
                  CAST(sum(ca * (2 * cnt_lt + cnt + 1)) AS BIGINT) AS s2_a,
                  CAST(sum(cn * (2 * cnt_lt + cnt + 1)) AS BIGINT) AS s2_n,
                  CAST(sum(cr * (2 * cnt_lt + cnt + 1)) AS BIGINT) AS s2_r,
                  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_tie_groups,
                  CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS HUGEINT)
                    AS tt
                FROM (SELECT ca, cn, cr, cnt, cnt_lt FROM ranked)),
              fin AS (
                SELECT *, n_a + n_n + n_r AS n FROM st),
              fin3 AS (
                SELECT *,
                  CAST(greatest(CAST(0 AS HUGEINT),
                    (CAST(3000000 AS HUGEINT) * s2_a * s2_a)
                      // (CAST(n_a AS HUGEINT) * n * (n + 1))
                    + (CAST(3000000 AS HUGEINT) * s2_n * s2_n)
                      // (CAST(n_n AS HUGEINT) * n * (n + 1))
                    + (CAST(3000000 AS HUGEINT) * s2_r * s2_r)
                      // (CAST(n_r AS HUGEINT) * n * (n + 1))
                    - CAST(3000000 AS HUGEINT) * (n + 1)) AS BIGINT) AS h_e6
                FROM fin),
              fin4 AS (
                SELECT *,
                  CAST((CAST(h_e6 AS HUGEINT)
                      * (CAST(n AS HUGEINT) * n * n - n))
                    // (CAST(n AS HUGEINT) * n * n - n - tt) AS BIGINT)
                    AS h_corr_e6
                FROM fin3)
              SELECT n, n_a, n_n, n_r, s2_a, s2_n, s2_r, n_tie_groups,
                h_e6, h_corr_e6,
                CAST(CASE WHEN h_corr_e6 > 5991465 THEN 1 ELSE 0 END AS BIGINT)
                  AS significant
              FROM fin4""")),

    Q("a_wilcoxon_signed_rank",
      // Wilcoxon signed-rank (1945), exact with midranks (eighteenth-
      // proposal #1): the PAIRED member completing the nonparametric
      // lineage (two-sample a_mann_whitney, k-sample a_kruskal_wallis,
      // correlation a_spearman_rho) — did per-customer total spend
      // SHIFT between the first and second half of the order history.
      // Pairs are integer cents totals per half (totals, not means: a
      // mean is a rational and exact |d| ranking would need cross-
      // multiplied comparisons; the paired-total statistic is equally
      // standard and keeps every diff a BIGINT). Zero diffs drop by
      // the standard Wilcoxon convention (count published). |d| ranks
      // by doubled-unit midranks on the two-phase bucketed frame
      // (64-bucket cross-bucket cumulative + within-bucket prefix
      // windows; at 100x recurse to 64^2 buckets). The tie-corrected
      // variance folds into ONE floor-e6 division with nonnegative
      // operands: z^2 = 12e6 * dev2^2 div (2n(n+1)(2n+1) - TT), dev2 =
      // W2+ - n(n+1)/2 (n(n+1) always even, so dev2 is exact), TT =
      // sum(t^3 - t); the denominator is >= 3n^3 + 6n^2 + 3n even
      // fully tied. Identity carried as data: w2_plus + w2_minus =
      // n(n+1). Verdict vs chi-square(1) 95% = 3.841459 exactly.
      // Oracle: flat midrank window.
      (s, d) => {
        val diffs = t(s, d, "orders")
          .select(col("o_custkey").as("c"),
            col("o_orderdate").as("od"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("cents"))
          .groupBy("c").agg(
            sum(when(col("od") < lit("1998-07-01"), col("cents"))).as("s1"),
            sum(when(col("od") >= lit("1998-07-01"), col("cents"))).as("s2"))
          .filter(col("s1").isNotNull && col("s2").isNotNull)
          .select((col("s2") - col("s1")).as("dd"))
          .cutLineage()
        val zeros = broadcast(diffs.filter(col("dd") === 0)
          .agg(count(lit(1)).as("n_zero")))
        val vals = diffs.filter(col("dd") =!= 0)
          .groupBy(abs(col("dd")).as("v")).agg(
            count(lit(1)).as("cnt"),
            sum(when(col("dd") > 0, 1L).otherwise(0L)).as("pos"))
        val bounds = broadcast(vals.agg(min("v").as("lo"), max("v").as("hi")))
        val bucketed = vals.crossJoin(bounds)
          .withColumn("b", expr("least(63, ((v - lo) * 64) div (hi - lo + 1))"))
        val byBucket = bucketed.groupBy("b").agg(sum("cnt").as("bc"))
          .withColumn("cum_below", expr(
            "sum(bc) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) - bc"))
        val wIn = Window.partitionBy("b").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cums = bucketed.join(broadcast(byBucket), Seq("b"))
          .withColumn("cnt_lt",
            col("cum_below") + sum("cnt").over(wIn) - col("cnt"))
          .withColumn("r2", expr("2 * cnt_lt + cnt + 1"))
        cums.agg(
            sum("cnt").as("n_pairs"),
            sum(expr("pos * r2")).as("w2_plus"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_tie_groups"),
            sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tt"))
          .crossJoin(zeros)
          .withColumn("w2_minus", expr("n_pairs * (n_pairs + 1) - w2_plus"))
          .withColumn("dev2",
            expr("w2_plus - (n_pairs * (n_pairs + 1)) div 2"))
          .withColumn("z2_e6", expr(
            "CAST((CAST(12000000 AS DECIMAL(38,0)) * dev2 * dev2)" +
              " div (CAST(2 AS DECIMAL(38,0)) * n_pairs * (n_pairs + 1)" +
              " * (2 * n_pairs + 1) - tt) AS BIGINT)"))
          .select(col("n_pairs"), col("n_zero"), col("w2_plus"),
            col("w2_minus"), col("n_tie_groups"), col("z2_e6"),
            expr("CAST(sign(dev2) AS BIGINT)").as("shifted"),
            expr("CAST(CASE WHEN z2_e6 > 3841459 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("significant"))
      },
      Some("""WITH cents AS (
                SELECT o_custkey AS c, o_orderdate AS od,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                FROM orders),
              diffs AS (
                SELECT
                  CAST(sum(CASE WHEN od < TIMESTAMP '1998-07-01'
                    THEN cents END) AS BIGINT) AS s1,
                  CAST(sum(CASE WHEN od >= TIMESTAMP '1998-07-01'
                    THEN cents END) AS BIGINT) AS s2
                FROM cents GROUP BY c
                HAVING s1 IS NOT NULL AND s2 IS NOT NULL),
              dd AS (SELECT s2 - s1 AS dd FROM diffs),
              nzero AS (
                SELECT CAST(count(*) AS BIGINT) AS n_zero FROM dd
                WHERE dd = 0),
              grp AS (
                SELECT abs(dd) AS v, CAST(count(*) AS BIGINT) AS cnt,
                  CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS pos
                FROM dd WHERE dd <> 0 GROUP BY 1),
              ranked AS (
                SELECT v, cnt, pos,
                  sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cnt
                    AS cnt_lt
                FROM grp),
              st AS (
                SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs,
                  CAST(sum(pos * (2 * cnt_lt + cnt + 1)) AS BIGINT)
                    AS w2_plus,
                  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_tie_groups,
                  CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                    AS HUGEINT) AS tt
                FROM ranked),
              fin AS (
                SELECT *, (SELECT n_zero FROM nzero) AS n_zero,
                  w2_plus - (n_pairs * (n_pairs + 1)) // 2 AS dev2
                FROM st),
              fin2 AS (
                SELECT *,
                  CAST((CAST(12000000 AS HUGEINT) * dev2 * dev2)
                    // (CAST(2 AS HUGEINT) * n_pairs * (n_pairs + 1)
                      * (2 * n_pairs + 1) - tt) AS BIGINT) AS z2_e6
                FROM fin)
              SELECT n_pairs, n_zero, w2_plus,
                CAST(n_pairs * (n_pairs + 1) - w2_plus AS BIGINT)
                  AS w2_minus,
                n_tie_groups, z2_e6,
                CAST(sign(dev2) AS BIGINT) AS shifted,
                CAST(CASE WHEN z2_e6 > 3841459 THEN 1 ELSE 0 END AS BIGINT)
                  AS significant
              FROM fin2""")),

    Q("a_friedman_test",
      // Friedman test (1937), exact with midranks (nineteenth-proposal
      // #1): the BLOCKED member completing the nonparametric lineage —
      // paired two-sample a_wilcoxon_signed_rank, independent k-sample
      // a_kruskal_wallis, correlation a_spearman_rho — do the k = 5
      // order-priority classes draw the same spend distribution once
      // customer-to-customer level differences are BLOCKED OUT. Blocks
      // are customers holding orders in all five priorities; the
      // response is total order cents per (customer, priority). Ranks
      // live WITHIN a block of exactly k = 5 cells, so no two-phase
      // bucketing is needed — a per-block window midrank is already
      // bounded (the partition is 5 rows; contrast a_kruskal_wallis
      // where the pooled frame forces the bucketed cumulative).
      // Doubled-unit midranks keep everything integral: r2 = 2*rank +
      // ties - 1 (= twice the textbook midrank). In doubled units the
      // tie-corrected statistic is Q = (k-1) * S2 / (A2 - C2) with
      // R2_j the doubled rank sum of priority j, S2 = sum_j (R2_j -
      // n(k+1))^2, A2 = sum r2^2, C2 = n k (k+1)^2 — the /2 and /4 of
      // the classical form fold away exactly (untied check: A2-C2 =
      // 40n and Q = S2/(10n) = the textbook 12S/(nk(k+1))). One staged
      // floor publishes q_e6 = floor(4e6 * S2 / D) as qq*4e6 +
      // (rem*4e6) div D with S2 = qq*D + rem — S2 peaks ~8e13 at sf1,
      // so the single-stage 4e6*S2 would still fit BIGINT only
      // barely; the staging keeps every intermediate under ~3e14.
      // D >= 1 via greatest (D = 0 only if EVERY block is 5-way tied,
      // where S2 = 0 — and DuckDB's // raises on zero where Spark
      // yields NULL, so the guard also keeps engines aligned).
      // Verdict: q_e6 vs the chi-square(4) 95% critical value
      // 9.487729, an exact integer comparison. Oracle: the same
      // per-block flat window midranks — green proves the doubled-unit
      // algebra on both engines.
      (s, d) => {
        val perCell = t(s, d, "orders")
          .groupBy(col("o_custkey").as("c"),
            col("o_orderpriority").as("pri"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .as("cents"))
        val blocks = perCell
          .withColumn("npri", count(lit(1)).over(Window.partitionBy("c")))
          .filter(col("npri") === 5)
        val ranked = blocks
          .withColumn("rk", rank().over(
            Window.partitionBy("c").orderBy("cents")))
          .withColumn("ties", count(lit(1)).over(
            Window.partitionBy("c", "cents")))
          .withColumn("r2", expr("2 * rk + ties - 1"))
          .cutLineage()
        val stats = ranked.groupBy("pri")
          .agg(sum("r2").as("r2_sum"),
            sum(expr("r2 * r2")).as("a2_part"),
            count(lit(1)).as("n_blocks"))
        val tot = stats.agg(
            sum("a2_part").as("a2"),
            max("n_blocks").as("n"),
            sum(expr("(r2_sum - n_blocks * 6) * (r2_sum - n_blocks * 6)"))
              .as("s2"))
          .withColumn("d", expr("greatest(a2 - 180 * n, CAST(1 AS BIGINT))"))
          .withColumn("q_e6", expr(
            "(s2 div d) * 4000000 + ((s2 % d) * 4000000) div d"))
        stats.crossJoin(broadcast(tot))
          .select(col("pri"), col("r2_sum"), col("n").as("n_blocks"),
            col("a2"), col("s2"), col("q_e6"),
            expr("CAST(CASE WHEN q_e6 > 9487729 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("significant"))
          .orderBy("pri")
      },
      Some("""WITH cells AS (
                SELECT o_custkey AS c, o_orderpriority AS pri,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1, 2),
              blocks AS (
                SELECT * FROM (
                  SELECT c, pri, cents,
                    count(*) OVER (PARTITION BY c) AS npri
                  FROM cells) WHERE npri = 5),
              ranked AS (
                SELECT c, pri,
                  CAST(2 * rank() OVER (PARTITION BY c ORDER BY cents)
                    + count(*) OVER (PARTITION BY c, cents) - 1
                    AS BIGINT) AS r2
                FROM blocks),
              st AS (
                SELECT pri, CAST(sum(r2) AS BIGINT) AS r2_sum,
                  CAST(sum(r2 * r2) AS BIGINT) AS a2_part,
                  CAST(count(*) AS BIGINT) AS n_blocks
                FROM ranked GROUP BY 1),
              tot AS (
                SELECT CAST(sum(a2_part) AS BIGINT) AS a2,
                  CAST(max(n_blocks) AS BIGINT) AS n,
                  CAST(sum((r2_sum - n_blocks * 6) * (r2_sum - n_blocks * 6))
                    AS BIGINT) AS s2
                FROM st),
              tot2 AS (
                SELECT a2, n, s2,
                  greatest(a2 - 180 * n, CAST(1 AS BIGINT)) AS d
                FROM tot),
              tot3 AS (
                SELECT a2, n, s2,
                  CAST((s2 // d) * 4000000 + ((s2 % d) * 4000000) // d
                    AS BIGINT) AS q_e6
                FROM tot2)
              SELECT st.pri, st.r2_sum, tot3.n AS n_blocks,
                tot3.a2, tot3.s2, tot3.q_e6,
                CAST(CASE WHEN tot3.q_e6 > 9487729 THEN 1 ELSE 0 END
                  AS BIGINT) AS significant
              FROM st CROSS JOIN tot3
              ORDER BY st.pri""")),

    Q("a_cochran_q",
      // Cochran's Q (1950; twentieth-proposal #1) — the BINARY member
      // of the blocked-design pair with a_friedman_test: same blocks
      // (customers holding orders in all five priorities), but the
      // response is the 0/1 "does the cell hold at least one finished
      // (o_orderstatus = 'F') order" — do the priority classes differ
      // in finish propensity once customers are blocked out. The
      // lineage's cheapest member: no ranks anywhere, every quantity
      // an integer off one grouped aggregate. Integrality: k^2 *
      // sum_j (C_j - S/k)^2 = sum_j (k*C_j - S)^2 folds the rational
      // mean away, so Q = (k-1) * sum_j (k C_j - S)^2 / (k * (k S -
      // sum_i R_i^2)) is a ratio of integers (C_j = priority totals,
      // R_i = block totals, S = grand total); blocks with all-equal
      // responses contribute zero to both sides, the standard
      // degeneracy. q_e6 publishes via the a_friedman_test two-stage
      // floor (T = qq*den + rem; qq*4e6 + rem*4e6 div den — the
      // single-stage 4e6*T grazes the BIGINT ceiling at sf1);
      // den >= 1 via greatest (den = 0 iff every block is all-0 or
      // all-1, where T = 0 too; DuckDB's // raises on zero).
      // Verdict vs chi-square(4) 95% = 9.487729.
      (s, d) => {
        val cells = t(s, d, "orders")
          .groupBy(col("o_custkey").as("c"),
            col("o_orderpriority").as("pri"))
          .agg(max(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("x"))
        val blocks = cells
          .withColumn("npri", count(lit(1)).over(Window.partitionBy("c")))
          .filter(col("npri") === 5)
          .cutLineage()
        val rows = blocks.groupBy("c").agg(sum("x").as("r"))
          .agg(sum("r").as("s"), sum(expr("r * r")).as("sum_r2"),
            count(lit(1)).as("n_blocks"))
        val cols = blocks.groupBy("pri").agg(sum("x").as("c_j"))
        val tot = cols.crossJoin(broadcast(rows))
          .agg(max("s").as("s"), max("sum_r2").as("sum_r2"),
            max("n_blocks").as("n_blocks"),
            sum(expr("(5 * c_j - s) * (5 * c_j - s)")).as("tt"))
          .withColumn("den", expr(
            "greatest(5 * (5 * s - sum_r2), CAST(1 AS BIGINT))"))
          .withColumn("q_e6", expr(
            "(tt div den) * 4000000 + ((tt % den) * 4000000) div den"))
        cols.crossJoin(broadcast(tot))
          .select(col("pri"), col("c_j"), col("n_blocks"), col("s"),
            col("sum_r2"), col("q_e6"),
            expr("CAST(CASE WHEN q_e6 > 9487729 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("significant"))
          .orderBy("pri")
      },
      Some("""WITH cells AS (
                SELECT o_custkey AS c, o_orderpriority AS pri,
                  CAST(max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
                FROM orders GROUP BY 1, 2),
              blocks AS (
                SELECT * FROM (
                  SELECT c, pri, x, count(*) OVER (PARTITION BY c) AS npri
                  FROM cells) WHERE npri = 5),
              rws AS (
                SELECT CAST(sum(r) AS BIGINT) AS s,
                  CAST(sum(r * r) AS BIGINT) AS sum_r2,
                  CAST(count(*) AS BIGINT) AS n_blocks
                FROM (SELECT c, CAST(sum(x) AS BIGINT) AS r
                      FROM blocks GROUP BY 1)),
              cls AS (
                SELECT pri, CAST(sum(x) AS BIGINT) AS c_j
                FROM blocks GROUP BY 1),
              tot AS (
                SELECT max(s) AS s, max(sum_r2) AS sum_r2,
                  max(n_blocks) AS n_blocks,
                  CAST(sum((5 * c_j - s) * (5 * c_j - s)) AS BIGINT) AS tt
                FROM cls CROSS JOIN rws),
              tot2 AS (
                SELECT *, greatest(5 * (5 * s - sum_r2),
                  CAST(1 AS BIGINT)) AS den
                FROM tot),
              tot3 AS (
                SELECT s, sum_r2, n_blocks,
                  CAST((tt // den) * 4000000 + ((tt % den) * 4000000) // den
                    AS BIGINT) AS q_e6
                FROM tot2)
              SELECT c.pri, c.c_j, t.n_blocks, t.s, t.sum_r2, t.q_e6,
                CAST(CASE WHEN t.q_e6 > 9487729 THEN 1 ELSE 0 END
                  AS BIGINT) AS significant
              FROM cls c CROSS JOIN tot3 t
              ORDER BY c.pri""")),

    Q("a_trimmed_mean",
      // Exact trimmed & winsorized means (seventeenth-proposal #4):
      // the robust-location triple per returnflag group — plain mean,
      // 10%-trimmed mean (DROP each tail's k = n div 10 values), and
      // 10%-winsorized mean (CLAMP each tail to the cut values) —
      // every one an exact rational on cents, floor-e6 published. No
      // per-row rank is ever materialized: the value-count frame's
      // interval (cum_lt, cum_lt + cnt] intersects the kept rank band
      // (k, n - k] arithmetically (take = clamped overlap), the cut
      // values are the first intervals crossing ranks k+1 and n-k, and
      // the winsorized sum is tsum + k*(lo_cut + hi_cut). The pooled
      // cumulative is the a_mann_whitney two-phase trick, PARTITIONED
      // by group on both phases (64-row per-group cross-bucket
      // cumulative + within-(group,bucket) prefix windows; at 100x
      // recurse to 64^2 buckets). All divisions are single floor-e6
      // on nonnegative operands (Spark div / DuckDB // parity); the
      // 1e6*sum products run in DECIMAL(38,0)/HUGEINT (3e20 at sf1
      // exceeds BIGINT before the divide). Oracle ranks on the flat
      // per-group window so green proves the two-phase + interval-
      // overlap identity.
      (s, d) => {
        val vals = t(s, d, "lineitem")
          .select(col("l_returnflag").as("g"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
          .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
          .cutLineage()
        val bounds = broadcast(vals.agg(min("v").as("lo"), max("v").as("hi")))
        val bucketed = vals.crossJoin(bounds)
          .withColumn("b", expr("least(63, ((v - lo) * 64) div (hi - lo + 1))"))
        val wBkt = Window.partitionBy("g").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, 0)
        val byBucket = bucketed.groupBy("g", "b").agg(sum("cnt").as("bc"))
          .withColumn("cum_below", sum("bc").over(wBkt) - col("bc"))
        val wIn = Window.partitionBy("g", "b").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cums = bucketed.join(broadcast(byBucket), Seq("g", "b"))
          .withColumn("cum_lt",
            col("cum_below") + sum("cnt").over(wIn) - col("cnt"))
        val tot = vals.groupBy("g").agg(
            sum("cnt").as("n"), sum(expr("v * cnt")).as("s"))
          .withColumn("k", expr("n div 10"))
        val cuts = cums.join(broadcast(tot), Seq("g"))
          .groupBy("g").agg(
            min(when(expr("cum_lt + cnt >= k + 1"), col("v"))).as("lo_cut"),
            min(when(expr("cum_lt + cnt >= n - k"), col("v"))).as("hi_cut"),
            sum(expr("v * greatest(CAST(0 AS BIGINT)," +
              " least(cum_lt + cnt, n - k) - greatest(cum_lt, k))")).as("tsum"))
        tot.join(cuts, Seq("g"))
          .select(col("g"), col("n"), col("k").as("k_trim"),
            col("lo_cut"), col("hi_cut"),
            expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * s) div n AS BIGINT)")
              .as("mean_e6"),
            expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * tsum)" +
              " div (n - 2 * k) AS BIGINT)").as("trimmed_mean_e6"),
            expr("CAST((CAST(1000000 AS DECIMAL(38,0))" +
              " * (tsum + k * lo_cut + k * hi_cut)) div n AS BIGINT)")
              .as("winsor_mean_e6"))
          .orderBy("g")
      },
      Some("""WITH vals AS (
                SELECT l_returnflag AS g,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY 1, 2),
              ranked AS (
                SELECT g, v, cnt,
                  sum(cnt) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cnt AS cum_lt
                FROM vals),
              tot AS (
                SELECT g, CAST(sum(cnt) AS BIGINT) AS n,
                  CAST(sum(v * cnt) AS BIGINT) AS s
                FROM vals GROUP BY 1),
              tot2 AS (SELECT *, n // 10 AS k FROM tot),
              cuts AS (
                SELECT r.g,
                  min(CASE WHEN r.cum_lt + r.cnt >= t.k + 1 THEN r.v END)
                    AS lo_cut,
                  min(CASE WHEN r.cum_lt + r.cnt >= t.n - t.k THEN r.v END)
                    AS hi_cut,
                  CAST(sum(r.v * greatest(0,
                    least(r.cum_lt + r.cnt, t.n - t.k)
                      - greatest(r.cum_lt, t.k))) AS BIGINT) AS tsum
                FROM ranked r JOIN tot2 t ON r.g = t.g
                GROUP BY 1)
              SELECT t.g, t.n, t.k AS k_trim, c.lo_cut, c.hi_cut,
                CAST((CAST(1000000 AS HUGEINT) * t.s) // t.n AS BIGINT)
                  AS mean_e6,
                CAST((CAST(1000000 AS HUGEINT) * c.tsum) // (t.n - 2 * t.k)
                  AS BIGINT) AS trimmed_mean_e6,
                CAST((CAST(1000000 AS HUGEINT)
                    * (c.tsum + t.k * c.lo_cut + t.k * c.hi_cut)) // t.n
                  AS BIGINT) AS winsor_mean_e6
              FROM tot2 t JOIN cuts c ON t.g = c.g
              ORDER BY t.g""")),

    Q("w30_drawdown",
      // Running-peak drawdown profile (seventeenth-proposal #6) — the
      // classic peak-to-trough risk summary, on each nation's DAILY
      // revenue series: how far below its historical peak did the
      // series fall (max drawdown, exact cents), when (first trough
      // day), from what peak, how many distinct underwater spells, and
      // the longest spell (in present-day rows; the series is sparse
      // and the row-sequence convention is stated). Pure PARTITIONED
      // windows — running max per nation, a per-nation max, and the
      // gaps-and-islands row_number difference on the underwater flag
      // (the w12_gap_islands trick) — no global window, no iteration;
      // 100x adds nations-bounded parallel work only. The trough pins
      // deterministically as min(day, rev) among max-drawdown rows
      // (days are unique per nation after the daily rollup), and
      // peak_cents = max_dd + rev(trough) recovers the peak without a
      // second join.
      (s, d) => {
        val daily = t(s, d, "orders")
          .join(broadcast(t(s, d, "customer")
            .select("c_custkey", "c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"),
            expr("CAST(o_orderdate AS DATE)").as("day"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .as("rev"))
          .cutLineage()
        val wCum = Window.partitionBy("nk").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val dd = daily
          .withColumn("peak", max("rev").over(wCum))
          .withColumn("ddv", col("peak") - col("rev"))
          .withColumn("maxdd", max(col("peak") - col("rev"))
            .over(Window.partitionBy("nk")))
          .withColumn("rn",
            row_number().over(Window.partitionBy("nk").orderBy("day")))
        val islands = dd.filter(col("ddv") > 0)
          .withColumn("island", col("rn") - row_number().over(
            Window.partitionBy("nk").orderBy("day")))
          .groupBy("nk", "island").agg(count(lit(1)).as("len"))
          .groupBy("nk").agg(count(lit(1)).as("n_drawdowns"),
            max("len").as("longest_underwater"))
        dd.groupBy("nk").agg(
            count(lit(1)).as("n_days"),
            max("ddv").as("max_dd_cents"),
            min(when(col("ddv") === col("maxdd"),
              struct(col("day"), col("rev")))).as("tr"))
          .join(islands, Seq("nk"), "left")
          .select(col("nk").as("nationkey"), col("n_days"),
            col("max_dd_cents"),
            date_format(col("tr.day"), "yyyy-MM-dd").as("trough_day"),
            expr("max_dd_cents + tr.rev").as("peak_cents"),
            coalesce(col("n_drawdowns"), lit(0L)).as("n_drawdowns"),
            coalesce(col("longest_underwater"), lit(0L))
              .as("longest_underwater"))
          .orderBy("nationkey")
      },
      Some("""WITH daily AS (
                SELECT c_nationkey AS nk, CAST(o_orderdate AS DATE) AS day,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              dd AS (
                SELECT nk, day, rev,
                  max(rev) OVER (PARTITION BY nk ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS peak,
                  row_number() OVER (PARTITION BY nk ORDER BY day) AS rn
                FROM daily),
              dd2 AS (
                SELECT *, peak - rev AS ddv,
                  max(peak - rev) OVER (PARTITION BY nk) AS maxdd
                FROM dd),
              isl AS (
                SELECT nk, island, CAST(count(*) AS BIGINT) AS len
                FROM (SELECT nk,
                        rn - row_number() OVER (PARTITION BY nk ORDER BY day)
                          AS island
                      FROM dd2 WHERE ddv > 0)
                GROUP BY 1, 2),
              islands AS (
                SELECT nk, CAST(count(*) AS BIGINT) AS n_drawdowns,
                  CAST(max(len) AS BIGINT) AS longest_underwater
                FROM isl GROUP BY 1),
              stats AS (
                SELECT nk, CAST(count(*) AS BIGINT) AS n_days,
                  CAST(max(ddv) AS BIGINT) AS max_dd_cents,
                  min(CASE WHEN ddv = maxdd THEN day END) AS trough_d,
                  CAST(min_by(rev, day) FILTER (WHERE ddv = maxdd) AS BIGINT)
                    AS trough_rev
                FROM dd2 GROUP BY 1)
              SELECT s.nk AS nationkey, s.n_days, s.max_dd_cents,
                strftime(s.trough_d, '%Y-%m-%d') AS trough_day,
                CAST(s.max_dd_cents + s.trough_rev AS BIGINT) AS peak_cents,
                CAST(coalesce(i.n_drawdowns, 0) AS BIGINT) AS n_drawdowns,
                CAST(coalesce(i.longest_underwater, 0) AS BIGINT)
                  AS longest_underwater
              FROM stats s LEFT JOIN islands i ON s.nk = i.nk
              ORDER BY nationkey""")),

    Q("w32_peak_prominence",
      // Peak detection with exact topographic prominence (eighteenth-
      // proposal #4; the scipy peak_prominences definition, stated
      // exactly): on each nation's daily-revenue series, a peak is a
      // strict local maximum, and its prominence is height minus the
      // HIGHER of the two side bases, where each side's base is the
      // minimum between the peak and the nearest strictly-higher
      // point (or the series boundary when no higher point exists —
      // the global max thus measures against the series minimum on
      // its open side). Computation is ROW-LOCAL per nation: the
      // series collects once into a day-sorted array (calendar-
      // bounded, ~2400 entries — stated; at 100x the array length is
      // unchanged because the calendar is), and peaks, nearest-higher
      // indices (one aggregate-HOF fold each side) and slice minima
      // are pure array arithmetic inside one projection — no
      // quadratic join, no iteration. Prominent-peak gate: prom >=
      // (range div 4), exact cents. The top peak per nation breaks
      // ties deterministically (max prom, then earliest day); empty-
      // peak nations publish the (-1, '') sentinel identically on
      // both engines. The oracle computes the SAME definition
      // RELATIONALLY (windows + bounded inequality self-joins +
      // correlated minima), so green proves the array-fold identity
      // against the definition, not the code.
      (s, d) => {
        val daily = t(s, d, "orders")
          .join(broadcast(t(s, d, "customer")
            .select("c_custkey", "c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"),
            expr("CAST(o_orderdate AS DATE)").as("day"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .as("rev"))
        val promExpr =
          """transform(peaks, p ->
             element_at(transform(array(struct(
                 aggregate(sequence(1, p - 1), 0, (acc, j) ->
                   IF(element_at(r, j) > element_at(r, p), j, acc)) AS lj,
                 aggregate(sequence(p + 1, n), 0, (acc2, j2) ->
                   IF(acc2 = 0 AND element_at(r, j2) > element_at(r, p),
                     j2, acc2)) AS rj)),
               b -> struct(p AS p,
                 element_at(r, p) - greatest(
                   array_min(slice(r, b.lj + 1, p - b.lj - 1)),
                   array_min(slice(r, p + 1,
                     IF(b.rj = 0, n, b.rj - 1) - p))) AS prom)), 1))"""
        val topExpr =
          """element_at(transform(array(
               IF(size(proms) = 0,
                 named_struct('p', -1, 'prom', CAST(-1 AS BIGINT)),
                 element_at(array_sort(proms, (l, rr) -> CASE
                   WHEN l.prom > rr.prom THEN -1
                   WHEN l.prom < rr.prom THEN 1
                   WHEN l.p < rr.p THEN -1
                   WHEN l.p > rr.p THEN 1 ELSE 0 END), 1))),
             tp -> struct(
               IF(tp.p = -1, '', element_at(ds, tp.p)) AS top_day,
               IF(tp.p = -1, CAST(-1 AS BIGINT), element_at(r, tp.p))
                 AS top_height,
               tp.prom AS top_prom)), 1)"""
        daily.groupBy("nk").agg(
            sort_array(collect_list(struct(col("day"), col("rev"))))
              .as("sarr"))
          .select(col("nk"),
            expr("transform(sarr, x -> x.rev)").as("r"),
            expr("transform(sarr, x -> CAST(x.day AS STRING))").as("ds"),
            expr("CAST(size(sarr) AS INT)").as("n"))
          .withColumn("peaks", expr(
            "IF(n < 3, array(), filter(sequence(2, n - 1), p -> " +
              "element_at(r, p) > element_at(r, p - 1) AND " +
              "element_at(r, p) > element_at(r, p + 1)))"))
          .withColumn("proms", expr(promExpr))
          .withColumn("gate", expr("(array_max(r) - array_min(r)) div 4"))
          .withColumn("t", expr(topExpr))
          .select(col("nk").as("nationkey"),
            col("n").cast("long").as("n_days"),
            expr("CAST(size(peaks) AS BIGINT)").as("n_peaks"),
            expr("CAST(size(filter(proms, x -> x.prom >= gate)) AS BIGINT)")
              .as("n_prominent"),
            col("t.top_day").as("top_day"),
            col("t.top_height").as("top_height"),
            col("t.top_prom").as("top_prom"))
          .orderBy("nationkey")
      },
      Some("""WITH daily AS (
                SELECT c_nationkey AS nk, CAST(o_orderdate AS DATE) AS day,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              seq AS (
                SELECT nk, day, rev,
                  CAST(row_number() OVER (PARTITION BY nk ORDER BY day)
                    AS BIGINT) AS rn
                FROM daily),
              tot AS (
                SELECT nk, CAST(count(*) AS BIGINT) AS n_days,
                  CAST(max(rev) AS BIGINT) AS mx, CAST(min(rev) AS BIGINT) AS mn
                FROM seq GROUP BY 1),
              pk AS (
                SELECT nk, rn AS p, rev AS h, day FROM (
                  SELECT *, lag(rev) OVER w AS pv, lead(rev) OVER w AS nx
                  FROM seq WINDOW w AS (PARTITION BY nk ORDER BY rn))
                WHERE pv IS NOT NULL AND nx IS NOT NULL
                  AND rev > pv AND rev > nx),
              ljr AS (
                SELECT pk.nk, pk.p, pk.h, pk.day,
                  coalesce((SELECT max(s.rn) FROM seq s
                    WHERE s.nk = pk.nk AND s.rn < pk.p AND s.rev > pk.h), 0)
                    AS lj,
                  (SELECT min(s.rn) FROM seq s
                    WHERE s.nk = pk.nk AND s.rn > pk.p AND s.rev > pk.h)
                    AS rj
                FROM pk),
              prom AS (
                SELECT l.nk, l.p, l.h, l.day,
                  l.h - greatest(
                    (SELECT min(s.rev) FROM seq s WHERE s.nk = l.nk
                      AND s.rn > l.lj AND s.rn < l.p),
                    (SELECT min(s.rev) FROM seq s WHERE s.nk = l.nk
                      AND s.rn > l.p
                      AND s.rn < coalesce(l.rj, t.n_days + 1)))
                    AS prom
                FROM ljr l JOIN tot t ON l.nk = t.nk),
              tops AS (
                SELECT nk, p, h, day, prom,
                  row_number() OVER (PARTITION BY nk
                    ORDER BY prom DESC, p) AS rk
                FROM prom)
              SELECT t.nk AS nationkey, t.n_days,
                CAST(coalesce(pc.n_peaks, 0) AS BIGINT) AS n_peaks,
                CAST(coalesce(pc.n_prominent, 0) AS BIGINT) AS n_prominent,
                coalesce(CAST(tp.day AS VARCHAR), '') AS top_day,
                CAST(coalesce(tp.h, -1) AS BIGINT) AS top_height,
                CAST(coalesce(tp.prom, -1) AS BIGINT) AS top_prom
              FROM tot t
              LEFT JOIN (
                SELECT pr.nk, CAST(count(*) AS BIGINT) AS n_peaks,
                  CAST(sum(CASE WHEN pr.prom >= (t2.mx - t2.mn) // 4
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_prominent
                FROM prom pr JOIN tot t2 ON pr.nk = t2.nk
                GROUP BY 1) pc ON t.nk = pc.nk
              LEFT JOIN (SELECT * FROM tops WHERE rk = 1) tp
                ON t.nk = tp.nk
              ORDER BY nationkey""")),

    Q("w33_log_rank",
      // Two-group log-rank test (Mantel 1966; nineteenth-proposal #2)
      // — the survival COMPARISON w26_kaplan_meier lacks: does the
      // BUILDING market segment churn on a different clock than the
      // rest. Identical churn framing to w26 (event = last order more
      // than 365 days before the corpus horizon, else censored at the
      // horizon; observed time in whole months, exact epoch-day
      // integers). At each event time t the hypergeometric
      // contribution: expected group-1 events e_t = d_t * n1_t / n_t
      // and variance v_t = d_t * n1_t * (n_t - n1_t) * (n_t - d_t) /
      // (n_t^2 * (n_t - 1)) — each floored to e6 PER STEP (the
      // w20_theilsen per-pair quantization precedent: the quantized
      // statistic is DEFINED identically on both engines; no
      // cross-step rational compounding, the trap that made
      // Holt-Winters infeasible-exact and forced w26 into ppm
      // truncation). Numerators run in DECIMAL(38,0): d*n1*(n-n1)*
      // (n-d)*1e6 peaks ~5e34 at sf100 — stated headroom; quotients
      // are e6-scaled BIGINTs. The z^2 = (o_e6 - e_e6)^2 / v_e6
      // square peaks ~2e22 at sf1, so it too stages through
      // DECIMAL(38,0) before the BIGINT quotient. n_t = 1 makes the
      // textbook variance 0/0; the numerator's (n_t - d_t) factor is
      // 0 whenever every remaining subject dies, so greatest(n_t-1,1)
      // resolves it to the correct 0 — and greatest(v,1) keeps the
      // final division defined where the whole curve is degenerate
      // (DuckDB // raises on zero, Spark div yields NULL; the guard
      // aligns engines). At-risk counts are suffix sums over the
      // <= span/30-row step frame — ONE corpus pass (the per-user
      // aggregate + one customer join), then bounded-frame arithmetic.
      // Verdict: z2_e6 vs the chi-square(1) 95% critical value
      // 3.841459 as an exact integer comparison.
      (s, d) => {
        val users = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(expr("min(unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
              " div 86400000000)").as("fd"),
            expr("max(unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
              " div 86400000000)").as("ld"))
        val seg = t(s, d, "customer").select(col("c_custkey"),
          (col("c_mktsegment") === "BUILDING").cast("long").as("g1"))
        val u2 = users.join(seg, col("o_custkey") === col("c_custkey"))
        val hz = broadcast(u2.agg(max("ld").as("hz")))
        val obs = u2.crossJoin(hz)
          .withColumn("churn", (col("ld") < col("hz") - 365).cast("long"))
          .withColumn("t", expr(
            "CASE WHEN ld < hz - 365 THEN (ld - fd) div 30" +
              " ELSE (hz - fd) div 30 END"))
        val steps = obs.groupBy("t")
          .agg(count(lit(1)).as("ending"), sum("churn").as("dd"),
            sum("g1").as("ending1"),
            sum(expr("churn * g1")).as("d1"))
          .withColumn("n", sum("ending").over(Window.orderBy(col("t").desc)
            .rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("n1", sum("ending1").over(Window.orderBy(col("t").desc)
            .rowsBetween(Window.unboundedPreceding, 0)))
          .filter(col("dd") > 0)
          .withColumn("e_e6", expr(
            "CAST((CAST(dd AS DECIMAL(38,0)) * n1 * 1000000) div n" +
              " AS BIGINT)"))
          .withColumn("v_e6", expr(
            "CAST((CAST(dd AS DECIMAL(38,0)) * n1 * (n - n1) * (n - dd)" +
              " * 1000000) div (CAST(n AS DECIMAL(38,0)) * n" +
              " * greatest(n - 1, 1)) AS BIGINT)"))
        steps.agg(
            max(expr("n")).as("n_total"),
            max(expr("n1")).as("n_building"),
            sum("dd").as("d_total"),
            sum("d1").as("o_building"),
            sum("e_e6").as("e_e6"),
            sum("v_e6").as("v_e6"))
          .withColumn("z2_e6", expr(
            "CAST((CAST(o_building * 1000000 - e_e6 AS DECIMAL(38,0))" +
              " * (o_building * 1000000 - e_e6))" +
              " div greatest(v_e6, 1) AS BIGINT)"))
          .select(col("n_total"), col("n_building"), col("d_total"),
            col("o_building"), col("e_e6"), col("v_e6"), col("z2_e6"),
            expr("CAST(CASE WHEN z2_e6 > 3841459 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("significant"))
      },
      Some("""WITH users AS (
               SELECT o_custkey,
                 min(epoch_us(o_orderdate) // 86400000000) AS fd,
                 max(epoch_us(o_orderdate) // 86400000000) AS ld
               FROM orders GROUP BY o_custkey),
             seg AS (
               SELECT c_custkey,
                 CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1
               FROM customer),
             u2 AS (
               SELECT u.*, s.g1 FROM users u
               JOIN seg s ON u.o_custkey = s.c_custkey),
             hz AS (SELECT max(ld) AS hz FROM u2),
             obs AS (
               SELECT CASE WHEN ld < hz - 365 THEN (ld - fd) // 30
                        ELSE (hz - fd) // 30 END AS t,
                 CASE WHEN ld < hz - 365 THEN 1 ELSE 0 END AS churn, g1
               FROM u2, hz),
             grp AS (
               SELECT t, CAST(count(*) AS BIGINT) AS ending,
                 CAST(sum(churn) AS BIGINT) AS dd,
                 CAST(sum(g1) AS BIGINT) AS ending1,
                 CAST(sum(churn * g1) AS BIGINT) AS d1
               FROM obs GROUP BY t),
             steps AS (
               SELECT t, dd, d1,
                 CAST(sum(ending) OVER (ORDER BY t DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
                 CAST(sum(ending1) OVER (ORDER BY t DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1
               FROM grp),
             ev AS (
               SELECT t, dd, d1, n, n1,
                 CAST((CAST(dd AS HUGEINT) * n1 * 1000000) // n
                   AS BIGINT) AS e_e6,
                 CAST((CAST(dd AS HUGEINT) * n1 * (n - n1) * (n - dd)
                   * 1000000) // (CAST(n AS HUGEINT) * n
                   * greatest(n - 1, 1)) AS BIGINT) AS v_e6
               FROM steps WHERE dd > 0),
             tot AS (
               SELECT CAST(max(n) AS BIGINT) AS n_total,
                 CAST(max(n1) AS BIGINT) AS n_building,
                 CAST(sum(dd) AS BIGINT) AS d_total,
                 CAST(sum(d1) AS BIGINT) AS o_building,
                 CAST(sum(e_e6) AS BIGINT) AS e_e6,
                 CAST(sum(v_e6) AS BIGINT) AS v_e6
               FROM ev)
             SELECT n_total, n_building, d_total, o_building, e_e6, v_e6,
               CAST((CAST(o_building * 1000000 - e_e6 AS HUGEINT)
                 * (o_building * 1000000 - e_e6))
                 // greatest(v_e6, 1) AS BIGINT) AS z2_e6,
               CAST(CASE WHEN (CAST(o_building * 1000000 - e_e6 AS HUGEINT)
                 * (o_building * 1000000 - e_e6))
                 // greatest(v_e6, 1) > 3841459 THEN 1 ELSE 0 END
                 AS BIGINT) AS significant
             FROM tot""")),

    Q("w34_turning_points",
      // Turning-point randomness test (Kendall's classic; twentieth-
      // proposal #2) — per nation, is the daily-revenue sequence
      // serially random: count strict local extrema T of the series;
      // under randomness E[T] = 2(n-2)/3 and Var[T] = (16n-29)/90 are
      // EXACT RATIONALS, so the 2-sigma verdict needs no sqrt — one
      // integer cross-multiplication (T - E)^2 > 4 Var <=>
      // (3T - 2n + 4)^2 * 10 > 64n - 116, the w29_runs_test
      // discipline's second member (runs tests SIGN changes, turning
      // points test EXTREMA — different nulls, same machinery).
      // Plateaus collapse first (consecutive equal revenues compress
      // to one point — the stated convention making "strict extremum"
      // well-defined; n is the COMPRESSED length and is published
      // beside the raw day count). Scale shape: one corpus pass to
      // the per-nation daily frame, then nation-partitioned
      // lag/lead windows on the calendar-bounded series.
      (s, d) => {
        val daily = t(s, d, "orders")
          .join(broadcast(t(s, d, "customer")
            .select("c_custkey", "c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"),
            expr("CAST(o_orderdate AS DATE)").as("day"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .as("rev"))
          .cutLineage()
        val wOrd = Window.partitionBy("nk").orderBy("day")
        val comp = daily
          .withColumn("pv", lag("rev", 1).over(wOrd))
          .filter(col("pv").isNull || col("rev") =!= col("pv"))
          .withColumn("prev", lag("rev", 1).over(wOrd))
          .withColumn("nxt", lead("rev", 1).over(wOrd))
          .withColumn("tp", when(col("prev").isNotNull
            && col("nxt").isNotNull
            && ((col("rev") > col("prev") && col("rev") > col("nxt"))
              || (col("rev") < col("prev") && col("rev") < col("nxt"))),
            1L).otherwise(0L))
        val raw = daily.groupBy("nk").agg(count(lit(1)).as("n_days"))
        comp.groupBy("nk").agg(count(lit(1)).as("n"),
            sum("tp").as("t_points"))
          .join(raw, Seq("nk"))
          .select(col("nk").as("nationkey"), col("n_days"), col("n"),
            col("t_points"),
            expr("(2 * (n - 2) * 1000000) div 3").as("e_ppm"),
            expr("((16 * n - 29) * 1000000) div 90").as("var_e6"),
            expr("CAST(CASE WHEN (3 * t_points - 2 * n + 4)" +
              " * (3 * t_points - 2 * n + 4) * 10 > 64 * n - 116" +
              " THEN 1 ELSE 0 END AS BIGINT)").as("nonrandom"))
          .orderBy("nationkey")
      },
      Some("""WITH daily AS (
                SELECT c_nationkey AS nk, CAST(o_orderdate AS DATE) AS day,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              d2 AS (
                SELECT nk, day, rev,
                  lag(rev) OVER (PARTITION BY nk ORDER BY day) AS pv
                FROM daily),
              comp AS (
                SELECT nk, day, rev FROM d2
                WHERE pv IS NULL OR rev <> pv),
              c2 AS (
                SELECT nk, rev,
                  lag(rev) OVER (PARTITION BY nk ORDER BY day) AS prev,
                  lead(rev) OVER (PARTITION BY nk ORDER BY day) AS nxt
                FROM comp),
              st AS (
                SELECT nk, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                    AND ((rev > prev AND rev > nxt)
                      OR (rev < prev AND rev < nxt))
                    THEN 1 ELSE 0 END) AS BIGINT) AS t_points
                FROM c2 GROUP BY 1),
              raw AS (
                SELECT nk, CAST(count(*) AS BIGINT) AS n_days
                FROM daily GROUP BY 1)
              SELECT st.nk AS nationkey, raw.n_days, st.n, st.t_points,
                (2 * (st.n - 2) * 1000000) // 3 AS e_ppm,
                ((16 * st.n - 29) * 1000000) // 90 AS var_e6,
                CAST(CASE WHEN (3 * st.t_points - 2 * st.n + 4)
                  * (3 * st.t_points - 2 * st.n + 4) * 10
                  > 64 * st.n - 116 THEN 1 ELSE 0 END AS BIGINT)
                  AS nonrandom
              FROM st JOIN raw ON st.nk = raw.nk
              ORDER BY nationkey""")),

    Q("w31_lis",
      // Longest strictly-increasing (and strictly-decreasing)
      // subsequence of each event type's daily count series — the
      // patience algorithm (Schensted 1961; Mallows 1973 named the
      // solitaire): "how trending is this series REALLY" next to
      // w25's local slopes and w29's runs randomness — a monotone
      // drift shows as LIS approaching the day count, a mean-reverting
      // series keeps both LIS and LDS near sqrt(n). The fold carries
      // only the tails array (tails[i] = smallest tail of any
      // increasing subsequence of length i+1, always sorted): each
      // value replaces the first tail >= it or appends — position
      // found by counting tails < x, exact integers throughout; LDS is
      // the same fold over the negated series. Scale shape: one corpus
      // pass to daily counts, the fold runs on the type-partitioned
      // <=|days| array (the w27 aggregate-HOF discipline). Oracle
      // replays both folds as a bounded recursive CTE over LIST state
      // (all types advance together, depth = days).
      (s, d) => {
        def lis(col0: String) =
          s"""size(aggregate($col0,
               array_repeat(CAST(0 AS BIGINT), 0),
               (acc, x) -> IF(size(filter(acc, t -> t < x)) = size(acc),
                 concat(acc, array(x)),
                 transform(acc, (t, i) ->
                   IF(i = size(filter(acc, t -> t < x)), x, t)))))"""
        t(s, d, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            expr("array_sort(collect_list(named_struct('day', day, 'c', c)))")
              .as("ser"))
          .withColumn("cs", expr("transform(ser, x -> x.c)"))
          .withColumn("lis_len", expr(lis("cs")).cast("long"))
          .withColumn("lds_len",
            expr(lis("transform(cs, v -> -v)")).cast("long"))
          .select("event_type", "n_days", "lis_len", "lds_len")
          .orderBy("event_type")
      },
      Some("""WITH RECURSIVE daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
              ser AS (SELECT event_type, c,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY day) AS r
                FROM daily),
              nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
                     FROM ser GROUP BY 1),
              walk AS (
                SELECT event_type, 0 AS r, CAST([] AS BIGINT[]) AS up,
                  CAST([] AS BIGINT[]) AS dn
                FROM nn
                UNION ALL
                SELECT w.event_type, w.r + 1,
                  CASE WHEN len(list_filter(w.up, t -> t < s.c)) = len(w.up)
                    THEN list_append(w.up, s.c)
                    ELSE [CASE WHEN k = len(list_filter(w.up,
                        t -> t < s.c)) + 1
                      THEN s.c ELSE w.up[CAST(k AS INT)] END
                      FOR k IN range(1, len(w.up) + 1)] END,
                  CASE WHEN len(list_filter(w.dn, t -> t < -s.c)) = len(w.dn)
                    THEN list_append(w.dn, -s.c)
                    ELSE [CASE WHEN k = len(list_filter(w.dn,
                        t -> t < -s.c)) + 1
                      THEN -s.c ELSE w.dn[CAST(k AS INT)] END
                      FOR k IN range(1, len(w.dn) + 1)] END
                FROM walk w JOIN ser s ON s.event_type = w.event_type
                  AND s.r = w.r + 1)
              SELECT w.event_type, nn.n_days,
                CAST(len(w.up) AS BIGINT) AS lis_len,
                CAST(len(w.dn) AS BIGINT) AS lds_len
              FROM walk w JOIN nn ON nn.event_type = w.event_type
              WHERE w.r = nn.n_days
              ORDER BY w.event_type""")),

    Q("a_kendall_tau",
      // Exact Kendall tau-b (Kendall 1938) between order quantity and
      // extended price — rank correlation WITHOUT a global sort, by
      // hierarchical inversion counting: discordant pairs D = sum over
      // distinct (x, y) cells of cnt * #(x' < x AND y' > y), where the
      // 2-D dominance count is built in three bounded steps — (1) one
      // corpus pass to the distinct-cell frame; (2) each cell's count
      // fans out to the x-values ABOVE it (the x vocabulary is the
      // bounded quantity domain, <= 50 values, so the fan-out is a
      // vocabulary-bounded explode, never a pair join); (3) one
      // y-descending suffix window PER x-value (50 partitions, each a
      // y-sorted fraction of the distinct-cell frame — at 100x these
      // partitions are corpus-sized; the recurse is y-bucketing the
      // suffix pass exactly like a_mann_whitney's two-phase, declared
      // here, not needed through sf1). Concordant pairs come from the
      // tie identity C = n0 - n1 - n2 + n3 - D, which the ORACLE
      // proves by computing C DIRECTLY with its own y-ascending prefix
      // pass — green means the identity and both dominance passes
      // agree. tau-b's sqrt denominator stays unevaluated: published
      // as the exact floor e6 of tau^2 = (C-D)^2 / ((n0-n1)(n0-n2))
      // in DECIMAL(38,0)/HUGEINT (max intermediate ~3e32 at sf1,
      // stated margin ~sf30) plus the exact sign.
      (s, d) => {
        val p = t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("x"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
              .as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("cnt"))
          .cutLineage()
        val xmax = broadcast(p.agg(max("x").as("xmax")))
        // r16 (guide §2.3/§2.4): the dominance pass used to group the
        // exploded frame by (v, y), window it, and join it BACK to p —
        // three full exchanges of the x-fanout frame (~25x |cells|).
        // Instead the cell rows ride INSIDE the exploded stream as
        // markers (c = 0, cellcnt = cnt) and a strict y' > y RANGE
        // frame reads each marker's dominance count directly: one
        // exchange (the window's partition-by-v), no grouping, no
        // join-back. a_gt at a marker = sum of contrib c over rows
        // with the same v and y' > y = the exact integer the old
        // (groupBy + rowsBetween-minus-self + join) chain produced.
        // It is taken as the partition total minus the running sum up
        // to y's last peer: both frames are linear, where a frame
        // ending at UNBOUNDED FOLLOWING with a bounded start
        // re-aggregates the whole suffix for every row.
        val contrib = p.crossJoin(xmax).filter(col("x") < col("xmax"))
          .select(explode(expr("sequence(x + 1, xmax)")).as("v"),
            col("y"), col("cnt").as("c"), lit(0L).as("cellcnt"))
          .unionByName(p.select(col("x").as("v"), col("y"),
            lit(0L).as("c"), col("cnt").as("cellcnt")))
        val byV = Window.partitionBy("v")
        val upToY = byV.orderBy(col("y").asc)
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val st = contrib
          .withColumn("a_gt", sum("c").over(byV) - sum("c").over(upToY))
          .agg(sum("cellcnt").as("n"),
            sum(expr("cellcnt * a_gt")).as("nd"),
            sum(expr("cellcnt * (cellcnt - 1) div 2")).as("n3"))
        val t1 = broadcast(p.groupBy("x").agg(sum("cnt").as("tx"))
          .agg(sum(expr("tx * (tx - 1) div 2")).as("n1")))
        val t2 = broadcast(p.groupBy("y").agg(sum("cnt").as("ty"))
          .agg(sum(expr("ty * (ty - 1) div 2")).as("n2")))
        st.crossJoin(t1).crossJoin(t2)
          .withColumn("n0", expr("n * (n - 1) div 2"))
          .withColumn("nc", expr("n0 - n1 - n2 + n3 - nd"))
          .withColumn("direction", expr("CAST(sign(nc - nd) AS BIGINT)"))
          .withColumn("taub2_e6", expr(
            "CAST((1000000 * CAST(nc - nd AS DECIMAL(38,0)) * (nc - nd))" +
              " div (CAST(n0 - n1 AS DECIMAL(38,0)) * (n0 - n2)) AS BIGINT)"))
          .select("n", "n0", "nc", "nd", "n1", "n2", "n3",
            "direction", "taub2_e6")
      },
      Some("""WITH p AS (
                SELECT CAST(l_quantity AS BIGINT) AS x,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY 1, 2),
              xm AS (SELECT max(x) AS xmax FROM p),
              contrib AS (
                SELECT CAST(u.v AS BIGINT) AS v, y, cnt
                FROM p, xm, UNNEST(range(x + 1, xmax + 1)) AS u(v)
                UNION ALL SELECT x, y, 0 FROM p),
              dom AS (
                SELECT v, y,
                  sum(cx) OVER (PARTITION BY v ORDER BY y DESC
                    ROWS UNBOUNDED PRECEDING) - cx AS a_gt,
                  sum(cx) OVER (PARTITION BY v ORDER BY y ASC
                    ROWS UNBOUNDED PRECEDING) - cx AS a_lt
                FROM (SELECT v, y, CAST(sum(cnt) AS BIGINT) AS cx
                      FROM contrib GROUP BY 1, 2)),
              st AS (
                SELECT CAST(sum(p.cnt) AS BIGINT) AS n,
                  CAST(sum(p.cnt * dom.a_gt) AS BIGINT) AS nd,
                  CAST(sum(p.cnt * dom.a_lt) AS BIGINT) AS nc,
                  CAST(sum(p.cnt * (p.cnt - 1) // 2) AS BIGINT) AS n3
                FROM p JOIN dom ON dom.v = p.x AND dom.y = p.y),
              t1 AS (SELECT CAST(sum(tx * (tx - 1) // 2) AS BIGINT) AS n1
                     FROM (SELECT sum(cnt) AS tx FROM p GROUP BY x)),
              t2 AS (SELECT CAST(sum(ty * (ty - 1) // 2) AS BIGINT) AS n2
                     FROM (SELECT sum(cnt) AS ty FROM p GROUP BY y))
              SELECT n, n * (n - 1) // 2 AS n0, nc, nd, n1, n2, n3,
                CAST(sign(nc - nd) AS BIGINT) AS direction,
                CAST((1000000 * CAST(nc - nd AS HUGEINT) * (nc - nd))
                  // (CAST(n * (n - 1) // 2 - n1 AS HUGEINT)
                    * (n * (n - 1) // 2 - n2)) AS BIGINT) AS taub2_e6
              FROM st, t1, t2""")),

    Q("a_hodges_lehmann",
      // Hodges-Lehmann pseudo-median (1963) of order totals — the
      // robust location estimator (median of all n(n+1)/2 pairwise
      // Walsh averages, 29% breakdown, ~0.96 efficiency vs the mean)
      // whose FLAT exact form is O(n^2) and DECLARED infeasible at
      // scale; shipped in the a_hist_quantiles shape instead:
      // (1) ESTIMATE from the pairwise-SUM histogram — the 64-bucket
      // cents histogram self-joins into a 64x64 bounded pair frame,
      // pair counts are exact products (c1*c2 off-diagonal,
      // c(c+1)/2 on it), the covering sum-bucket s = b1+b2 is found
      // at the lower-median pair rank on the 127-row cumulative, and
      // the estimate is the floored integer upper edge
      // (2*lo + (s+2)(hi-lo+1) div 64) div 2 — every step integer,
      // no IEEE anywhere (unlike a_hist_quantiles' float chain);
      // (2) AUDIT against the EXACT pseudo-median of a bounded
      // content-derived subsample — the 500 orders with smallest
      // 48-bit md5 hashes (the KMV discipline: bounded at ANY corpus
      // size, identity-deterministic), whose 125k Walsh sums rank on
      // a bounded single-partition frame (documented, the audit-path
      // bound of a_hist_quantiles). err_ppm between the two is the
      // in-row honesty column. Pair counts <= n^2 stay inside int64
      // through sf100 (2.2e16).
      (s, d) => {
        val xs = t(s, d, "orders").select(
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("x"),
          col("o_orderkey"))
        val bounds = broadcast(xs.agg(min("x").as("lo"), max("x").as("hi"),
          count(lit(1)).as("n")))
        val hist = xs.crossJoin(bounds)
          .withColumn("b", expr("((x - lo) * 64) div (hi - lo + 1)"))
          .groupBy("b").agg(count(lit(1)).as("c"))
        // r16 (guide §3.1): range() defaults to one partition per core,
        // and the non-equi 64x64 self-join then planned as a 32x32-way
        // CartesianProduct — 1024 tasks for 4096 pairs (measured 10.3 s
        // of the query's 12 s in ONE job). A 1-partition range makes the
        // same join a single-task local product.
        val dense = s.range(0, 64, 1, numPartitions = 1).toDF("b")
          .join(hist, Seq("b"), "left").na.fill(0L, Seq("c"))
        val pairs = dense.as("h1").join(dense.as("h2"),
            col("h1.b") <= col("h2.b"))
          .select((col("h1.b") + col("h2.b")).as("sb"),
            when(col("h1.b") < col("h2.b"), col("h1.c") * col("h2.c"))
              .otherwise(expr("h1.c * (h1.c + 1) div 2")).as("pc"))
          .groupBy("sb").agg(sum("pc").as("pc"))
          .withColumn("cum", expr(
            "sum(pc) OVER (ORDER BY sb ROWS UNBOUNDED PRECEDING)"))
        val pick = pairs.crossJoin(bounds)
          .filter(expr("cum >= (n * (n + 1) div 2 + 1) div 2"))
          .orderBy("sb").limit(1)
          .select(col("sb").as("cover_s"),
            expr("(2 * lo + ((sb + 2) * (hi - lo + 1)) div 64) div 2")
              .as("est_c2"))
        val sub = xs
          .withColumn("h", expr("CAST(conv(substring(md5(" +
            "CAST(o_orderkey AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
          .orderBy("h", "o_orderkey").limit(500)
          .withColumn("r", row_number().over(
            Window.orderBy("h", "o_orderkey")))
        val m = broadcast(sub.agg(count(lit(1)).as("m")))
        val exact = sub.as("a").join(sub.as("b"), col("a.r") <= col("b.r"))
          .select((col("a.x") + col("b.x")).as("ws"))
          .withColumn("wr", row_number().over(Window.orderBy("ws")))
          .crossJoin(m)
          .filter(expr("wr = (m * (m + 1) div 2 + 1) div 2"))
          .select(col("m").as("n_sub"), expr("ws div 2").as("exact_sub_c2"))
        broadcast(pick).crossJoin(broadcast(exact)).crossJoin(bounds)
          .select(col("n"), col("n_sub"), col("cover_s"), col("est_c2"),
            col("exact_sub_c2"),
            expr("(1000000 * abs(est_c2 - exact_sub_c2)) div exact_sub_c2")
              .as("err_ppm"))
      },
      Some {
        val nib = (i: Int) =>
          s"(strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), $i, 1)) - 1)"
        val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""WITH xs AS (
              SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
                o_orderkey
              FROM orders),
            bounds AS (SELECT min(x) AS lo, max(x) AS hi,
              CAST(count(*) AS BIGINT) AS n FROM xs),
            hist AS (
              SELECT ((x - lo) * 64) // (hi - lo + 1) AS b,
                CAST(count(*) AS BIGINT) AS c
              FROM xs, bounds GROUP BY 1),
            dense AS (
              SELECT CAST(r.b AS BIGINT) AS b, COALESCE(c, 0) AS c
              FROM (SELECT unnest(range(0, 64)) AS b) r
              LEFT JOIN hist ON hist.b = r.b),
            pairs AS (
              SELECT sb, CAST(sum(pc) AS BIGINT) AS pc,
                CAST(sum(sum(pc)) OVER (ORDER BY sb
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM (
                SELECT h1.b + h2.b AS sb,
                  CASE WHEN h1.b < h2.b THEN h1.c * h2.c
                    ELSE h1.c * (h1.c + 1) // 2 END AS pc
                FROM dense h1 JOIN dense h2 ON h1.b <= h2.b)
              GROUP BY sb),
            pick AS (
              SELECT sb AS cover_s,
                (2 * lo + ((sb + 2) * (hi - lo + 1)) // 64) // 2 AS est_c2
              FROM pairs, bounds
              WHERE cum >= (n * (n + 1) // 2 + 1) // 2
              ORDER BY sb LIMIT 1),
            sub AS (
              SELECT x, row_number() OVER (ORDER BY $h48, o_orderkey) AS r
              FROM xs
              ORDER BY $h48, o_orderkey LIMIT 500),
            mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM sub),
            exact AS (
              SELECT m AS n_sub, ws // 2 AS exact_sub_c2
              FROM (SELECT a.x + b.x AS ws,
                      row_number() OVER (ORDER BY a.x + b.x) AS wr
                    FROM sub a JOIN sub b ON a.r <= b.r), mm
              WHERE wr = (m * (m + 1) // 2 + 1) // 2)
            SELECT n, n_sub, cover_s, est_c2, exact_sub_c2,
              (1000000 * abs(est_c2 - exact_sub_c2)) // exact_sub_c2
                AS err_ppm
            FROM pick, exact, bounds"""
      }),

    Q("a_grouped_gk",
      // Per-nation Greenwald–Khanna quantile summaries (GK, SIGMOD
      // 2001; fourteenth-proposal #1): the bounded-state quantile
      // sketch as a BATCH fold, trajectory-replayed on both engines.
      // The summary is the classic (v, g, Δ) tuple list under the
      // deterministic INCREMENTAL schedule: values arrive in ascending
      // order (each insert is the running maximum, so Δ = 0 exactly),
      // and every insert attempts ONE merge — the first adjacent pair
      // (i-1, i) with i >= 3 whose g_{i-1} + g_i + Δ_i <= floor(m/8)
      // (ε = 1/16) collapses into tuple i. Merging only ever keeps the
      // LATER tuple and never touches the first, so min and max stay
      // exact; every surviving tuple satisfies g + Δ <= 2εm at its
      // last merge, which is the GK invariant that bounds any rank
      // query's error by 2εm. The add-one-merge-one schedule holds the
      // summary at the ~2/(2ε) = 16-tuple equilibrium (adjacent pairs
      // all exceed the threshold) — the bounded state that makes GK
      // the 100 TB quantile answer. Estimates are read with the
      // first-rmax-covering-rank rule; the row also publishes each
      // estimate's EXACT rank error against the group's value array
      // and the band it must sit inside — the ε-guarantee is computed,
      // not asserted. The fold runs per nation over the first 512
      // customers by key (the oracle replays all 512 inserts as a
      // recursive CTE with LIST state — the slice bounds ITS recursion
      // budget; the sketch itself never needs the bound). The
      // unbounded scale path — arbitrary arrival order, mergeable
      // partial summaries as a TypedImperativeAggregate — is
      // functions/GkQuantileAgg.scala, band-spec'd in GkQuantileSpec
      // (order-sensitive trajectories cannot be oracle-replayed; the
      // guarantee, not the trajectory, is the contract there).
      (s, d) => {
        val tsT = "ARRAY<STRUCT<v: BIGINT, g: BIGINT, d: BIGINT>>"
        val fold = s"""aggregate(
          xs,
          named_struct('m', 0L, 'ts', CAST(array() AS $tsT)),
          (acc, x) -> named_struct('m', acc.m + 1, 'ts',
            element_at(transform(
              array(concat(acc.ts,
                array(named_struct('v', x, 'g', 1L, 'd', 0L)))),
              ts1 -> element_at(transform(
                array(IF(size(ts1) < 3, CAST(NULL AS INT),
                  try_element_at(filter(sequence(3, size(ts1)), i ->
                    element_at(ts1, i - 1).g + element_at(ts1, i).g
                      + element_at(ts1, i).d <= (acc.m + 1) div 8), 1))),
                idx -> IF(idx IS NULL, ts1,
                  concat(
                    slice(ts1, 1, idx - 2),
                    array(named_struct('v', element_at(ts1, idx).v,
                      'g', element_at(ts1, idx - 1).g
                        + element_at(ts1, idx).g,
                      'd', element_at(ts1, idx).d)),
                    IF(idx = size(ts1), CAST(array() AS $tsT),
                      slice(ts1, idx + 1, size(ts1) - idx))))), 1)), 1)))"""
        def est(r: String) =
          s"""element_at(ts, try_element_at(filter(
               sequence(1, size(ts)), i ->
                 aggregate(slice(ts, 1, i), 0L, (a, t) -> a + t.g)
                   + element_at(ts, i).d >= $r), 1)).v"""
        def err(q: String, r: String) =
          s"""greatest(0L,
               CAST(size(filter(xs, e -> e < $q)) AS BIGINT) + 1 - $r,
               $r - CAST(size(filter(xs, e -> e <= $q)) AS BIGINT))"""
        t(s, d, "customer")
          .select(col("c_nationkey").as("nk"),
            expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("c"),
            col("c_custkey"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("nk").orderBy("c_custkey")))
          .filter(col("rn") <= 512)
          .groupBy("nk")
          .agg(sort_array(collect_list(col("c"))).as("xs"),
            count(lit(1)).as("n"))
          .withColumn("ts", expr(fold + ".ts"))
          .withColumn("r25", expr("(n + 3) div 4"))
          .withColumn("r50", expr("(n + 1) div 2"))
          .withColumn("r75", expr("(3 * n + 3) div 4"))
          .withColumn("q25_est", expr(est("r25")))
          .withColumn("q50_est", expr(est("r50")))
          .withColumn("q75_est", expr(est("r75")))
          .withColumn("err25", expr(err("q25_est", "r25")))
          .withColumn("err50", expr(err("q50_est", "r50")))
          .withColumn("err75", expr(err("q75_est", "r75")))
          .withColumn("band", expr("greatest(1L, n div 8)"))
          .select(col("nk"), col("n"),
            expr("CAST(size(ts) AS BIGINT)").as("summary_size"),
            col("q25_est"), col("q50_est"), col("q75_est"),
            col("err25"), col("err50"), col("err75"), col("band"),
            expr("CAST(IF(err25 <= band AND err50 <= band" +
              " AND err75 <= band, 1, 0) AS INT)").as("band_ok"))
          .orderBy("nk")
      },
      Some {
        def destKey(r: String) =
          s"""ts[list_filter(range(1, len(ts) + 1), i ->
               list_sum(list_transform(ts[1:CAST(i AS INT)], t -> t.g))
                 + ts[i].d >= $r)[1]].v"""
        def derr(q: String, r: String) =
          s"""greatest(CAST(0 AS BIGINT),
               len(list_filter(xs, e -> e < $q)) + 1 - $r,
               $r - len(list_filter(xs, e -> e <= $q)))"""
        s"""WITH RECURSIVE src AS (
              SELECT c_nationkey AS nk,
                CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS c,
                row_number() OVER (PARTITION BY c_nationkey
                  ORDER BY c_custkey) AS rn
              FROM customer),
            arr AS (
              SELECT nk, list(c ORDER BY c) AS xs,
                CAST(count(*) AS BIGINT) AS n
              FROM src WHERE rn <= 512 GROUP BY nk),
            walk AS (
              SELECT nk, CAST(0 AS BIGINT) AS m,
                CAST([] AS STRUCT(v BIGINT, g BIGINT, d BIGINT)[]) AS ts
              FROM arr
              UNION ALL
              SELECT w.nk, w.m + 1,
                list_transform([list_append(w.ts,
                    {'v': a.xs[CAST(w.m + 1 AS INT)],
                     'g': CAST(1 AS BIGINT), 'd': CAST(0 AS BIGINT)})],
                  ts1 -> list_transform(
                    [list_filter(range(3, len(ts1) + 1), i ->
                       ts1[i - 1].g + ts1[i].g + ts1[i].d
                         <= (w.m + 1) // 8)[1]],
                    idx -> CASE WHEN idx IS NULL THEN ts1
                      ELSE list_concat(list_concat(
                        ts1[1:CAST(idx - 2 AS INT)],
                        [{'v': ts1[idx].v,
                          'g': ts1[idx - 1].g + ts1[idx].g,
                          'd': ts1[idx].d}]),
                        ts1[CAST(idx + 1 AS INT):])
                      END)[1])[1]
              FROM walk w JOIN arr a ON a.nk = w.nk WHERE w.m < a.n),
            fin AS (
              SELECT w.nk, w.ts, a.xs, a.n,
                (a.n + 3) // 4 AS r25, (a.n + 1) // 2 AS r50,
                (3 * a.n + 3) // 4 AS r75
              FROM walk w JOIN arr a ON a.nk = w.nk WHERE w.m = a.n),
            es AS (
              SELECT nk, n, xs, r25, r50, r75,
                CAST(len(ts) AS BIGINT) AS summary_size,
                CAST(${destKey("r25")} AS BIGINT) AS q25_est,
                CAST(${destKey("r50")} AS BIGINT) AS q50_est,
                CAST(${destKey("r75")} AS BIGINT) AS q75_est
              FROM fin),
            ee AS (
              SELECT nk, n, summary_size, q25_est, q50_est, q75_est,
                CAST(${derr("q25_est", "r25")} AS BIGINT) AS err25,
                CAST(${derr("q50_est", "r50")} AS BIGINT) AS err50,
                CAST(${derr("q75_est", "r75")} AS BIGINT) AS err75,
                greatest(CAST(1 AS BIGINT), n // 8) AS band
              FROM es)
            SELECT nk, n, summary_size, q25_est, q50_est, q75_est,
              err25, err50, err75, CAST(band AS BIGINT) AS band,
              CAST(CASE WHEN err25 <= band AND err50 <= band
                AND err75 <= band THEN 1 ELSE 0 END AS INT) AS band_ok
            FROM ee ORDER BY nk"""
      }),

    Q("a_gk_band_audit",
      // The MERGEABLE GK aggregate under the band-audit gate
      // (functions/GkQuantileAgg.scala — a_grouped_gk's unbounded
      // scale path): gk_quantile's tuple trajectory depends on which
      // partition's partial merges first, so its OUTPUT cannot be
      // hash-replayed; what IS deterministic is the theorem — every
      // rank query answers within 2εn — and this row publishes that
      // check COMPUTED from the actual sketch (estimate from the
      // summary, exact rank interval from the group's value array,
      // band = n/8 at ε = 1/16) next to the oracle-exact quantiles.
      // DuckDB publishes the same exact quantiles and asserts the
      // theorem's flag; a regression in insert/merge/compress flips
      // the Spark-computed flag and the row goes red. The exact
      // quantile columns keep the row non-vacuous on their own.
      (s, d) => {
        def est(r: String) =
          s"""element_at(ts, try_element_at(filter(
               sequence(1, size(ts)), i ->
                 aggregate(slice(ts, 1, i), 0L, (a, t) -> a + t.g)
                   + element_at(ts, i).d >= $r), 1)).v"""
        def err(q: String, r: String) =
          s"""greatest(0L,
               CAST(size(filter(xs, e -> e < $q)) AS BIGINT) + 1 - $r,
               $r - CAST(size(filter(xs, e -> e <= $q)) AS BIGINT))"""
        t(s, d, "customer")
          .select(col("c_nationkey").as("nk"),
            expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("c"))
          .groupBy("nk")
          .agg(expr("gk_quantile(c, 16)").as("gk"),
            sort_array(collect_list(col("c"))).as("xs"))
          .withColumn("n", col("gk.n"))
          .withColumn("ts", col("gk.ts"))
          .withColumn("r25", expr("(n + 3) div 4"))
          .withColumn("r50", expr("(n + 1) div 2"))
          .withColumn("r75", expr("(3 * n + 3) div 4"))
          .withColumn("q25_exact_c", expr("element_at(xs, CAST(r25 AS INT))"))
          .withColumn("q50_exact_c", expr("element_at(xs, CAST(r50 AS INT))"))
          .withColumn("q75_exact_c", expr("element_at(xs, CAST(r75 AS INT))"))
          .withColumn("band", expr("greatest(1L, n div 8)"))
          .withColumn("e25", expr(est("r25")))
          .withColumn("e50", expr(est("r50")))
          .withColumn("e75", expr(est("r75")))
          .select(col("nk"), col("n"),
            col("q25_exact_c"), col("q50_exact_c"), col("q75_exact_c"),
            expr("CAST(IF(" + err("e25", "r25") + " <= band AND "
              + err("e50", "r50") + " <= band AND "
              + err("e75", "r75") + " <= band, 1, 0) AS INT)")
              .as("band_ok"))
          .orderBy("nk")
      },
      Some("""WITH arr AS (
               SELECT c_nationkey AS nk,
                 list(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                   ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                   AS xs,
                 CAST(count(*) AS BIGINT) AS n
               FROM customer GROUP BY 1)
             SELECT nk, n,
               CAST(xs[CAST((n + 3) // 4 AS INT)] AS BIGINT)
                 AS q25_exact_c,
               CAST(xs[CAST((n + 1) // 2 AS INT)] AS BIGINT)
                 AS q50_exact_c,
               CAST(xs[CAST((3 * n + 3) // 4 AS INT)] AS BIGINT)
                 AS q75_exact_c,
               CAST(1 AS INT) AS band_ok
             FROM arr ORDER BY nk"""))
  )
}
