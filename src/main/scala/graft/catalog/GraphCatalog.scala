package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage.CutOps
import graft.catalog.Q.t
import graft.operators.GraphAlgos

/** Graph analytics over edge lists derived from the relational tables —
  * the question family the reference pipeline exists to hand to Neo4j
  * (influence ranking, cohesion, bounded reachability, degree shape),
  * re-expressed as distributed DataFrame programs
  * ([[graft.operators.GraphAlgos]], [[graft.operators.Components]]).
  *
  * Two derived graphs:
  *  - the **nation trade graph**: customer-nation -> supplier-nation
  *    edges weighted by lineitem count (a 4-way join over the fact
  *    table; small node set, heavy derivation — the common "aggregate a
  *    fact table into an entity graph" shape);
  *  - the **part co-occurrence graph**: parts appearing in the same
  *    order (a fact-table self-join; node and edge sets both scale with
  *    the data — the shape where naive all-pairs algorithms die).
  *
  * Oracle determinism: PageRank emits integer micro-ranks
  * (`floor(rank * 1e6 + 0.5)`) rather than rounded doubles — the two
  * engines agree on the pre-round double to ~1e-12, and an integer
  * output cannot differ in the binary representation of a rounded
  * decimal the way `round(x, 6)` doubles can. All other outputs are
  * exact integers.
  */
object GraphCatalog {

  private val damping = "0.85"
  private val prIters = 10

  /** Unrolled fixed-iteration rank twin (DuckDB lacks iteration with
    * aggregation in recursive CTEs; ten generated CTEs are exactly the
    * operator's teleport fixed-point arithmetic, dangling-mass term
    * included). `teleSql` is the teleport vector as a SQL expression
    * over `node`: uniform for classic PageRank, a point mass at a
    * source node for the personalized variant. Every CTE is
    * MATERIALIZED — the rank CTEs are each referenced twice, and DuckDB
    * would otherwise inline the chain exponentially. */
  private def rankOracle(teleSql: String): String = {
    val head = s"""WITH e AS MATERIALIZED (
        SELECT c_nationkey AS src, s_nationkey AS dst, count(*)::DOUBLE AS weight
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE c_nationkey <> s_nationkey
        GROUP BY 1, 2),
      nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
      outw AS MATERIALIZED (SELECT src, sum(weight) AS out_w FROM e GROUP BY src),
      norm AS MATERIALIZED (SELECT e.src, e.dst, e.weight / outw.out_w AS share
               FROM e JOIN outw ON e.src = outw.src),
      tele AS MATERIALIZED (SELECT node, $teleSql AS t FROM nodes),
      r0 AS MATERIALIZED (SELECT node, t AS rank FROM tele)"""
    val iters = (1 to prIters).map { i =>
      val p = s"r${i - 1}"
      s""",
      d$i AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS m FROM $p
              WHERE node NOT IN (SELECT src FROM outw)),
      r$i AS MATERIALIZED (SELECT tele.node,
          (1 - $damping) * tele.t
          + $damping * (coalesce(c.in_mass, 0) + (SELECT m FROM d$i) * tele.t)
            AS rank
        FROM tele LEFT JOIN (
          SELECT norm.dst AS node, sum($p.rank * norm.share) AS in_mass
          FROM $p JOIN norm ON $p.node = norm.src
          GROUP BY norm.dst) c ON tele.node = c.node)"""
    }.mkString
    head + iters + s"""
      SELECT node, CAST(floor(rank * 1000000 + 0.5) AS BIGINT) AS rank_ppm
      FROM r$prIters ORDER BY node"""
  }

  /** Part co-occurrence pairs (u < v), derived row-locally: one groupBy
    * shuffle of (orderkey, partkey), then per-order sorted part arrays
    * expand to ordered pairs in place — half the shuffled bytes of the
    * equivalent fact-table self-join and no join at all. Orders are
    * small groups (few line items), so the expansion is O(k^2) with
    * tiny k. Cross-order duplicates remain; both graph operators dedup
    * internally as part of symmetrization. */
  private def copartPairs(li: DataFrame): DataFrame =
    li.groupBy("l_orderkey").agg(sort_array(collect_set("l_partkey")).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))

  /** ONE HyperBall register computation per (session, dataset), shared
    * by its three readout queries (round-9 verdict #3:
    * g_neighborhood_func, g_eff_diameter and g_harmonic_hyperball each
    * rebuilt the identical register rounds — the expensive part — to
    * read a different metric off them; ~28 s of the 177 s bench was one
    * computation paid three times). The register table (node, r0..r15,
    * h) is built once by [[GraphAlgos.hyperballRegisters]], pinned
    * MEMORY_AND_DISK in the session registry ([[Q.pinned]], keyed by the
    * `lineitem` files it derives from), and every readout is a row-local
    * [[GraphAlgos.hyperballEstimates]] projection over the pinned
    * frame. The pin is a few ints per node per hop — at 100 TB this is
    * exactly the artifact a diameter job would persist to read
    * reachability, diameter and centrality without re-sketching. */
  private def sharedHyperballEstimates(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val regs = Q.pinned(s, d, Seq("lineitem"), "hyperball")((r: DataFrame) => Seq(r)) {
      val pairs = copartDistinct(s, d)
        .select(col("u").as("s"), col("v").as("d"))
      GraphAlgos.hyperballRegisters(pairs, hops = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    GraphAlgos.hyperballEstimates(regs)
  }

  /** ONE counted co-occurrence pair computation per (session, dataset) —
    * the HyperBall pin discipline (round-9 verdict #3) applied to the
    * pair base itself (r16): ~15 catalog queries derive their edge set
    * from the identical per-order (u, v) expansion, and each used to pay
    * the lineitem scan + pair explode + pair aggregate privately. The
    * pinned frame is (u, v, n_orders) with u < v: the distinct pair set
    * is a projection of it, and the walk/labelprop family's sparsified
    * graph is `n >= 2`. At 100 TB this is exactly the co-occurrence edge
    * artifact a graph platform materializes once per ingest and reuses
    * across every downstream graph job. Pinned in the session registry
    * ([[Q.pinned]]), keyed by the `lineitem` files. Every consumer either
    * dedups/symmetrizes internally or consumed the distinct set already,
    * so results are bit-identical. */
  private def copartCounted(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Q.pinned(s, d, Seq("lineitem"), "copart")((p: DataFrame) => Seq(p)) {
      copartPairs(t(s, d, "lineitem").select("l_orderkey", "l_partkey"))
        .groupBy("u", "v").agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Distinct co-occurrence pairs (u < v). */
  private def copartDistinct(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    copartCounted(s, d).select("u", "v")

  /** The sparsified co-occurrence graph (pairs co-occurring in >= 2
    * orders) the walk/labelprop/ktruss family runs on. */
  private def copartSparse(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    copartCounted(s, d).filter(col("n") >= 2).select("u", "v")

  /** ONE deterministic-walk table per (session, dataset, steps, starts)
    * — the walk corpus g_random_walks publishes and g_walk_skipgrams /
    * g_negative_samples consume as their training input (all three used
    * to re-derive it; at scale the walk corpus is materialized once and
    * every downstream trainer reads it). Deterministic by construction
    * (md5-derived neighbor choice), so sharing cannot change a row.
    * Pinned in the session registry ([[Q.pinned]]), keyed by the
    * `lineitem` files. */
  private def sharedWalks(s: org.apache.spark.sql.SparkSession, d: String,
      steps: Int, startsLimit: Int): DataFrame =
    Q.pinned(s, d, Seq("lineitem"), ("walks", steps, startsLimit))((w: DataFrame) => Seq(w)) {
      val edges = copartSparse(s, d)
      val starts = edges.select(col("u").as("n"))
        .union(edges.select(col("v").as("n")))
        .distinct().orderBy("n").limit(startsLimit)
      GraphAlgos.deterministicWalks(edges, starts, steps = steps)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Nation trade graph: customer-nation -> supplier-nation edges
    * weighted by lineitem count. All three dimension sides broadcast
    * (orders projected to its two join keys first): the fact table
    * reaches its partial aggregation without a single shuffle. */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      .join(broadcast(t(s, d, "orders").select("o_orderkey", "o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("weight"))

  def all: Seq[Q] = Seq(

    // Influence ranking of nations in the trade graph: who supplies the
    // nations that everyone buys from. The 4-way fact join is the heavy
    // stage; the iteration runs on the lineage-cut 25-node edge frame
    // it produces.
    Q("g_pagerank_trade",
      (s, d) => GraphAlgos.pageRank(tradeEdges(s, d),
          iters = prIters, damping = damping.toDouble)
        .select(col("node"),
          floor(col("rank") * lit(1000000) + lit(0.5)).cast("long").as("rank_ppm"))
        .orderBy("node"),
      Some(rankOracle("1.0 / (SELECT n FROM nn)"))),

    // Personalized PageRank: influence relative to ONE nation (the
    // random surfer restarts there; Cypher users ask this as "who
    // matters around entity X"). Source = the minimum nation key,
    // derived IN-PLAN by the operator (round-7 verdict #3: the old
    // `agg(min).head()` pre-fetch was a separate driver job — a second
    // full pass over the edge frame at scale), so both engines pick
    // the same node with zero driver round-trips.
    Q("g_ppr_trade",
      (s, d) => GraphAlgos.personalizedPageRankMinSource(tradeEdges(s, d),
          iters = prIters, damping = damping.toDouble)
        .select(col("node"),
          floor(col("rank") * lit(1000000) + lit(0.5)).cast("long").as("rank_ppm"))
        .orderBy("node"),
      Some(rankOracle(
        "CASE WHEN node = (SELECT min(node) FROM nodes) THEN 1.0 ELSE 0.0 END"))),

    // HITS hubs & authorities (Kleinberg) on the DIRECTED trade graph
    // — the other classic eigenvector-style ranking next to PageRank,
    // and the one that separates the two roles PageRank conflates: a
    // nation that BUYS from many well-supplied nations is a hub, one
    // that SUPPLIES many well-buying nations is an authority. Two
    // power-iteration steps from h0 = 1, UNNORMALIZED: with a fixed
    // iteration count the raw mutual-reinforcement sums are integers
    // (a1 = in-degree, then alternating integer sums), rank
    // identically to the L2-normalized scores, and make the whole
    // query BIGINT-exact — no per-round float normalization for a hash
    // compare to trip on. Per half-step: one edge join + one
    // map-side-partial aggregate on the node key.
    Q("g_hits_trade",
      (s, d) => GraphAlgos.hits(
          tradeEdges(s, d).select(col("src").as("s"), col("dst").as("d")),
          steps = 2)
        .orderBy("node"),
      Some("""WITH t AS MATERIALIZED (
               SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN supplier ON l_suppkey = s_suppkey
               WHERE c_nationkey <> s_nationkey),
             nodes AS (SELECT src AS node FROM t UNION SELECT dst FROM t),
             a1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS a
                    FROM t GROUP BY dst),
             h1 AS (SELECT t.src AS node,
                      CAST(sum(coalesce(a1.a, 0)) AS BIGINT) AS h
                    FROM t LEFT JOIN a1 ON t.dst = a1.node GROUP BY t.src),
             a2 AS (SELECT t.dst AS node,
                      CAST(sum(coalesce(h1.h, 0)) AS BIGINT) AS a
                    FROM t LEFT JOIN h1 ON t.src = h1.node GROUP BY t.dst),
             h2 AS (SELECT t.src AS node,
                      CAST(sum(coalesce(a2.a, 0)) AS BIGINT) AS h
                    FROM t LEFT JOIN a2 ON t.dst = a2.node GROUP BY t.src)
             SELECT nodes.node AS node,
               CAST(coalesce(a2.a, 0) AS BIGINT) AS auth_score,
               CAST(coalesce(h2.h, 0) AS BIGINT) AS hub_score
             FROM nodes LEFT JOIN a2 ON nodes.node = a2.node
               LEFT JOIN h2 ON nodes.node = h2.node
             ORDER BY node""")),

    // Link prediction by common neighbors (Cypher's classic
    // `MATCH (a)--(n)--(b) WHERE NOT (a)--(b)` recommendation): over the
    // above-average-weight trade adjacency, rank non-adjacent nation
    // pairs by how many trade partners they share. The avg-weight gate
    // sparsifies a graph that is otherwise near-complete at any scale
    // (25 nations) — and is itself data-derived, so both engines
    // compute the SAME graph.
    Q("g_link_predict",
      (s, d) => {
        val tr = tradeEdges(s, d).cutLineage()
        // avg-weight threshold folded INTO the plan as a broadcast 1-row
        // aggregate (round-7 verdict #3, same pattern as x_charlm_score's
        // vocab size): the old `agg(avg).head()` was a separate driver
        // job — a second full pass over the edge frame at scale.
        val thr = broadcast(tr.agg(avg("weight").as("__thr")))
        val und = tr.crossJoin(thr).filter(col("weight") > col("__thr"))
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .distinct()
          .cutLineage()
        val sym = und.select(col("u").as("n"), col("v").as("m"))
          .unionByName(und.select(col("v").as("n"), col("u").as("m")))
        val cn = sym.select(col("n"), col("m").as("a"))
          .join(sym.select(col("n"), col("m").as("b")), Seq("n"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
        cn.join(und, cn("a") === und("u") && cn("b") === und("v"), "left_anti")
          .orderBy(desc("n_common"), col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH tr AS MATERIALIZED (
                SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                WHERE c_nationkey <> s_nationkey
                GROUP BY 1, 2),
              und AS MATERIALIZED (
                SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM tr WHERE w > (SELECT avg(w) FROM tr)),
              sym AS (SELECT u AS n, v AS m FROM und
                      UNION ALL SELECT v, u FROM und),
              cn AS (SELECT e1.m AS a, e2.m AS b, count(*)::BIGINT AS n_common
                     FROM sym e1 JOIN sym e2 ON e1.n = e2.n AND e1.m < e2.m
                     GROUP BY 1, 2)
              SELECT a, b, n_common FROM cn
              WHERE NOT EXISTS (SELECT 1 FROM und WHERE u = cn.a AND v = cn.b)
              ORDER BY n_common DESC, a, b LIMIT 20""")),

    // Adamic-Adar link prediction — the weighted refinement of
    // g_link_predict's raw common-neighbor count: each shared neighbor
    // contributes 1/ln(degree), so a hub everyone trades through says
    // almost nothing while an exclusive middleman says a lot. Same
    // sparsified trade backbone, same non-adjacent-pair scan; one
    // degree aggregate broadcast into the wedge join.
    Q("g_adamic_adar",
      (s, d) => {
        val tr = tradeEdges(s, d).cutLineage()
        // in-plan avg threshold — see g_link_predict
        val thr = broadcast(tr.agg(avg("weight").as("__thr")))
        val und = tr.crossJoin(thr).filter(col("weight") > col("__thr"))
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .distinct()
          .cutLineage()
        val sym = und.select(col("u").as("n"), col("v").as("m"))
          .unionByName(und.select(col("v").as("n"), col("u").as("m")))
        val deg = sym.groupBy("n").agg(count(lit(1)).as("deg"))
        val aa = sym.select(col("n"), col("m").as("a"))
          .join(sym.select(col("n"), col("m").as("b")), Seq("n"))
          .filter(col("a") < col("b"))
          .join(broadcast(deg), Seq("n"))
          .filter(col("deg") > 1) // ln(1) = 0 would divide by zero
          .groupBy("a", "b")
          .agg(count(lit(1)).as("n_common"),
            sum(expr("1.0 / ln(deg)")).as("aa_raw"))
        aa.join(und, aa("a") === und("u") && aa("b") === und("v"), "left_anti")
          .select(col("a"), col("b"), col("n_common"),
            round(col("aa_raw"), 4).as("adamic_adar"))
          .orderBy(col("adamic_adar").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH tr AS MATERIALIZED (
                SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                WHERE c_nationkey <> s_nationkey
                GROUP BY 1, 2),
              und AS MATERIALIZED (
                SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM tr WHERE w > (SELECT avg(w) FROM tr)),
              sym AS (SELECT u AS n, v AS m FROM und
                      UNION ALL SELECT v, u FROM und),
              deg AS (SELECT n, count(*) AS deg FROM sym GROUP BY 1),
              aa AS (SELECT e1.m AS a, e2.m AS b,
                       count(*)::BIGINT AS n_common,
                       sum(1.0 / ln(deg)) AS aa_raw
                     FROM sym e1 JOIN sym e2 ON e1.n = e2.n AND e1.m < e2.m
                       JOIN deg ON deg.n = e1.n
                     WHERE deg > 1
                     GROUP BY 1, 2)
              SELECT a, b, n_common, round(aa_raw, 4) AS adamic_adar FROM aa
              WHERE NOT EXISTS (SELECT 1 FROM und WHERE u = aa.a AND v = aa.b)
              ORDER BY adamic_adar DESC, a, b LIMIT 20""")),

    // Per-part triangle counts in the co-occurrence graph. The Spark
    // side runs the degree-orientation algorithm (O(m^1.5) wedges); the
    // oracle enumerates triangles naively from each one's minimum
    // vertex — different algorithms, identical triangle set, which is
    // exactly what an oracle should pin.
    Q("g_triangles_copart",
      (s, d) => GraphAlgos.trianglesPerNode(
        copartDistinct(s, d))
        .orderBy("node"),
      Some("""WITH pr AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
              tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM pr e1 JOIN pr e2 ON e2.u = e1.u AND e2.v > e1.v
                JOIN pr e3 ON e3.u = e1.v AND e3.v = e2.v)
              SELECT node, count(*)::BIGINT AS n_triangles
              FROM (SELECT a AS node FROM tri UNION ALL
                    SELECT b FROM tri UNION ALL SELECT c FROM tri)
              GROUP BY node ORDER BY node""")),

    // Bipartite butterfly (4-cycle) counting (seventeenth-proposal #2)
    // — the bipartite sibling of g_triangles_copart and the motif
    // behind bipartite clustering coefficients (Wang-Lin-Qin-Zhang
    // 2019 vertex-priority counting; Sanei-Mehri-Sariyuce-Tirthapura
    // 2018): on the customer-part purchase graph (BUILDING segment),
    // butterflies = sum over part pairs of C(codeg, 2), with wedges
    // generated on the CUSTOMER side — the side whose sum C(deg, 2)
    // is ~8x smaller here (customer degree is bounded by basket size
    // x orders per customer, part degree is not); that side choice IS
    // the vertex-priority rule and the 100x story, with the segment
    // restriction stated (the full-graph count at 100 TB would add
    // per-vertex degree ordering exactly as the triangle operator
    // does). Wedge pairs expand row-locally from per-customer sorted
    // distinct-part arrays (no self-join; the copartPairs trick), and
    // every output is exact integer combinatorics: closure_e6 =
    // 2B/W — sum codeg(codeg-1) over sum codeg — is the average
    // number of OTHER co-purchasing customers a wedge's pair already
    // has, the bipartite closed-wedge ratio. Oracle states the naive
    // self-join form so green proves the expansion identity.
    Q("g_butterflies",
      (s, d) => {
        val e = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
          .join(broadcast(t(s, d, "orders").select("o_orderkey", "o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, d, "customer")
              .filter(col("c_mktsegment") === "BUILDING")
              .select("c_custkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey").as("c"), col("l_partkey").as("p"))
        val byCust = e.groupBy("c")
          .agg(sort_array(collect_set("p")).as("ps")).cutLineage()
        val pairs = byCust
          .select(explode(expr(
            "flatten(transform(ps, (x, i) -> " +
              "transform(slice(ps, i + 2, size(ps)), " +
              "y -> struct(x AS p1, y AS p2))))")).as("w"))
          .groupBy("w.p1", "w.p2").agg(count(lit(1)).as("codeg"))
        val wedgeStats = byCust.agg(
          sum(expr("CAST(size(ps) AS BIGINT)")).as("n_edges"),
          count(lit(1)).as("n_custs"),
          sum(expr("CAST(size(ps) AS BIGINT) * (size(ps) - 1) div 2"))
            .as("wedges"))
        val nParts = e.select("p").distinct()
          .agg(count(lit(1)).as("n_parts"))
        val bStats = pairs.agg(
          count(lit(1)).as("n_pairs"),
          sum(expr("codeg * (codeg - 1) div 2")).as("butterflies"),
          max("codeg").as("max_codeg"))
        wedgeStats.crossJoin(broadcast(nParts)).crossJoin(broadcast(bStats))
          .withColumn("closure_e6",
            expr("(CAST(2000000 AS DECIMAL(38,0)) * butterflies) div wedges"))
          .select("n_edges", "n_custs", "n_parts", "wedges", "n_pairs",
            "butterflies", "max_codeg", "closure_e6")
      },
      Some("""WITH e AS MATERIALIZED (
                SELECT DISTINCT c_custkey AS c, l_partkey AS p
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'),
              deg AS (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM e GROUP BY 1),
              pairs AS (
                SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS codeg
                FROM e a JOIN e b ON a.c = b.c AND a.p < b.p
                GROUP BY 1, 2),
              ws AS (
                SELECT CAST(sum(dc) AS BIGINT) AS n_edges,
                  CAST(count(*) AS BIGINT) AS n_custs,
                  CAST(sum(dc * (dc - 1) // 2) AS BIGINT) AS wedges
                FROM deg),
              np AS (SELECT CAST(count(DISTINCT p) AS BIGINT) AS n_parts FROM e),
              bs AS (
                SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(codeg * (codeg - 1) // 2) AS BIGINT) AS butterflies,
                  CAST(max(codeg) AS BIGINT) AS max_codeg
                FROM pairs)
              SELECT n_edges, n_custs, n_parts, wedges, n_pairs, butterflies,
                max_codeg,
                CAST((CAST(2000000 AS HUGEINT) * butterflies) // wedges
                  AS BIGINT) AS closure_e6
              FROM ws, np, bs""")),

    // Local clustering coefficient — the per-node cohesion ratio
    // c(v) = 2*tri(v) / (deg(v) * (deg(v)-1)) that separates hub
    // nodes bridging many communities (low c) from nodes inside dense
    // pockets (high c). Reuses the degree-oriented triangle operator;
    // the ratio is exact integer ppm (2e6 * tri div deg*(deg-1)), so
    // no float division can drift between engines. Scale shape: the
    // triangle pass dominates (see g_triangles_copart); degrees add
    // one map-side-combinable aggregate sharing the node key.
    Q("g_clustering_coeff",
      (s, d) => {
        val pr = copartDistinct(s, d)
        val deg = pr.select(col("u").as("node"))
          .union(pr.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val tri = GraphAlgos.trianglesPerNode(pr)
        deg.join(tri, Seq("node"), "left")
          .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
          .filter(col("deg") >= 2)
          .withColumn("coeff_ppm",
            expr("2000000 * n_triangles div (deg * (deg - 1))"))
          .select("node", "deg", "n_triangles", "coeff_ppm")
          .orderBy("node")
      },
      // Multi-statement TEMP-table oracle (round-10 verdict #4): the
      // single-statement form re-expanded the 12M-row `pr` subtree at
      // every reference and timed out (387 s) on the sf1 corpus; staged
      // through temp tables the SAME degree-oriented algorithm runs in
      // ~31 s there. Triangle enumeration is degree-oriented (each edge
      // points at its higher-(deg, id) endpoint, wedges open at the
      // ~sqrt(m)-bounded low end) — still an independent engine + an
      // independently-stated plan vs the Spark side.
      Some("""CREATE OR REPLACE TEMP TABLE gcc_pr AS
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey;
              CREATE OR REPLACE TEMP TABLE gcc_deg AS
              SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT u AS node FROM gcc_pr UNION ALL SELECT v FROM gcc_pr)
              GROUP BY node;
              CREATE OR REPLACE TEMP TABLE gcc_ord AS
              SELECT CASE WHEN da.deg < db.deg
                            OR (da.deg = db.deg AND pr.u < pr.v)
                          THEN pr.u ELSE pr.v END AS s,
                     CASE WHEN da.deg < db.deg
                            OR (da.deg = db.deg AND pr.u < pr.v)
                          THEN pr.v ELSE pr.u END AS t
              FROM gcc_pr pr JOIN gcc_deg da ON da.node = pr.u
                JOIN gcc_deg db ON db.node = pr.v;
              CREATE OR REPLACE TEMP TABLE gcc_tri AS
              SELECT e1.s AS a, e1.t AS b, e2.t AS c
              FROM gcc_ord e1 JOIN gcc_ord e2
                ON e2.s = e1.s AND e1.t < e2.t
              JOIN gcc_pr pr ON pr.u = e1.t AND pr.v = e2.t;
              SELECT d.node AS node, deg,
                coalesce(n_triangles, 0) AS n_triangles,
                CAST(2000000 * coalesce(n_triangles, 0)
                  // (deg * (deg - 1)) AS BIGINT) AS coeff_ppm
              FROM gcc_deg d LEFT JOIN (
                SELECT node, count(*)::BIGINT AS n_triangles
                FROM (SELECT a AS node FROM gcc_tri UNION ALL
                      SELECT b FROM gcc_tri UNION ALL SELECT c FROM gcc_tri)
                GROUP BY node) tpn ON d.node = tpn.node
              WHERE deg >= 2 ORDER BY node""")),

    // Degree assortativity (Newman's r): the Pearson correlation of
    // endpoint degrees across directed edge instances — positive on
    // social-style graphs (hubs attach to hubs), negative on
    // hub-and-spoke topologies; THE one-number mixing diagnostic read
    // before choosing partition/skew strategies for a graph workload.
    // All five sufficient statistics are exact BIGINT sums (degrees
    // are integers; n*sxy - sx*sy style cross-multiplication, the
    // w9_anomaly_hours trick), so the single final sqrt/division sees
    // bit-identical operands on both engines and the 4dp round
    // matches.
    Q("g_rich_club",
      // Rich-club coefficient curve (Zhou & Mondragon 2004;
      // twentieth-proposal #4) — for each degree threshold k in a
      // fixed doubling ladder, the exact rational density of the
      // subgraph induced by nodes of degree > k: phi(k) = 2 E_k /
      // (N_k (N_k - 1)) in ppm — do the high-degree parts of the
      // co-order graph interconnect more than the graph at large,
      // the elite-cohesion readout next to g_assortativity's global
      // mixing coefficient (assortativity can be near zero while a
      // rich club still exists; the CURVE shows where). Exact
      // integers only: node and edge counts per threshold off the
      // vocabulary-bounded degree frame (parts, never corpus rows),
      // the 7-threshold fan-out an explode on that bounded frame;
      // thresholds with N_k < 2 publish phi = 0 (stated convention —
      // density of an empty/singleton club is undefined; the count
      // columns still show the emptiness). Normalized rich-club
      // (divide by the degree-preserving random expectation) is
      // declared out: it needs edge rewiring draws, not derivable
      // deterministically on either engine.
      (s, d) => {
        val pr = copartDistinct(s, d)
          .cutLineage()
        val deg = pr.select(col("u").as("node"))
          .union(pr.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
        val ks = expr("explode(array(1L, 2L, 4L, 8L, 16L, 32L, 64L))")
        val nk = deg.select(col("dg"), ks.as("k"))
          .filter(col("dg") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_k"))
        val ek = pr
          .join(deg.withColumnRenamed("node", "u")
            .withColumnRenamed("dg", "du"), Seq("u"))
          .join(deg.withColumnRenamed("node", "v")
            .withColumnRenamed("dg", "dv"), Seq("v"))
          .select(col("du"), col("dv"), ks.as("k"))
          .filter(col("du") > col("k") && col("dv") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("e_k"))
        nk.join(ek, Seq("k"), "left")
          .select(col("k"), col("n_k"),
            coalesce(col("e_k"), lit(0L)).as("e_k"),
            expr("CAST(CASE WHEN n_k >= 2 THEN" +
              " (2 * coalesce(e_k, 0L) * 1000000) div (n_k * (n_k - 1))" +
              " ELSE 0 END AS BIGINT)").as("phi_ppm"))
          .orderBy("k")
      },
      Some("""WITH pr AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
              sym AS (SELECT u AS node FROM pr
                      UNION ALL SELECT v FROM pr),
              deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg
                      FROM sym GROUP BY node),
              ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64])
                       AS BIGINT) AS k),
              nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k
                     FROM deg CROSS JOIN ks WHERE dg > k GROUP BY k),
              ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k
                     FROM pr
                       JOIN deg a ON pr.u = a.node
                       JOIN deg b ON pr.v = b.node
                       CROSS JOIN ks
                     WHERE a.dg > k AND b.dg > k GROUP BY k)
              SELECT nk.k, nk.n_k,
                CAST(coalesce(ek.e_k, 0) AS BIGINT) AS e_k,
                CAST(CASE WHEN nk.n_k >= 2 THEN
                  (2 * coalesce(ek.e_k, 0) * 1000000)
                    // (nk.n_k * (nk.n_k - 1))
                  ELSE 0 END AS BIGINT) AS phi_ppm
              FROM nk LEFT JOIN ek ON nk.k = ek.k
              ORDER BY nk.k""")),

    Q("g_assortativity",
      (s, d) => GraphAlgos.degreeAssortativity(
          copartDistinct(s, d))
        .select(col("n"), col("sxy"), col("sxx"),
          round(col("r"), 4).as("assortativity_4dp")),
      Some("""WITH pr AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
              sym AS (SELECT u AS s, v AS d FROM pr
                      UNION ALL SELECT v, u FROM pr),
              deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS dg
                      FROM sym GROUP BY s),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(a.dg) AS BIGINT) AS sx,
                       CAST(sum(b.dg) AS BIGINT) AS sy,
                       CAST(sum(a.dg * b.dg) AS BIGINT) AS sxy,
                       CAST(sum(a.dg * a.dg) AS BIGINT) AS sxx,
                       CAST(sum(b.dg * b.dg) AS BIGINT) AS syy
                     FROM sym JOIN deg a ON sym.s = a.node
                       JOIN deg b ON sym.d = b.node)
              SELECT n, sxy, sxx,
                round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                  4) AS assortativity_4dp
              FROM st""")),

    // GraphSAGE-style neighbor sampling: per seed, a DETERMINISTIC
    // bounded fan-out frontier (<= 3 neighbors at hop 1, <= 2 per
    // hop-1 node at hop 2) ranked by md5(seed:...:neighbor) — the
    // minibatch sampler GNN training runs over 100 TB graphs, where
    // full neighborhoods are power-law unbounded and true rand()
    // cannot be reproduced across executors or resumed across runs.
    // Content-derived ranking makes every worker recompute the same
    // sample (the x_epoch_shuffle / deterministicWalks discipline).
    // Scale shape: seeds broadcast into the adjacency join; per hop
    // one edge join + one WindowGroupLimit-bounded rank per parent —
    // cost is O(seeds * fanout), never O(graph).
    Q("g_sage_sampling",
      (s, d) => {
        val pr = copartDistinct(s, d)
        val seeds = pr.select(col("u").as("seed"))
          .union(pr.select(col("v").as("seed"))).distinct()
          .orderBy("seed").limit(4)
        GraphAlgos.sageSample(pr, seeds, f1 = 3, f2 = 2)
          .orderBy("seed", "hop", "parent", "rk")
      },
      Some("""WITH pr AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
              sym AS (SELECT u AS s, v AS d FROM pr
                      UNION ALL SELECT v, u FROM pr),
              seeds AS (SELECT DISTINCT s AS seed FROM sym
                        ORDER BY seed LIMIT 4),
              h1 AS (
                SELECT seed, CAST(1 AS BIGINT) AS hop, seed AS parent,
                  d AS node, CAST(rk AS BIGINT) AS rk
                FROM (SELECT seed, d, row_number() OVER (PARTITION BY seed
                        ORDER BY md5(seed || ':' || d), d) AS rk
                      FROM seeds JOIN sym ON seed = sym.s)
                WHERE rk <= 3),
              h2 AS (
                SELECT seed, CAST(2 AS BIGINT) AS hop, parent,
                  d AS node, CAST(rk AS BIGINT) AS rk
                FROM (SELECT h1.seed, h1.node AS parent, sym.d,
                        row_number() OVER (PARTITION BY h1.seed, h1.node
                          ORDER BY md5(h1.seed || ':' || h1.node || ':' || sym.d),
                            sym.d) AS rk
                      FROM h1 JOIN sym ON h1.node = sym.s)
                WHERE rk <= 2)
              SELECT * FROM h1 UNION ALL SELECT * FROM h2
              ORDER BY seed, hop, parent, rk""")),

    // Bounded reachability (Cypher `shortestPath((a)-[*..3]-(b))`):
    // frontier BFS from the lowest part key over co-occurrence edges.
    // The seed is a 1-row min aggregate FRAME, not a driver pre-fetch
    // (round-7 verdict #3): the BFS's first checkpoint materializes it
    // as part of the plan.
    Q("g_bfs_hops",
      (s, d) => {
        val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
        val pairs = copartDistinct(s, d)
          .select(col("u").as("s"), col("v").as("d"))
        GraphAlgos.bfsHopsFrom(pairs, li.agg(min("l_partkey").as("node")),
          maxHops = 3).orderBy("node")
      },
      Some("""WITH RECURSIVE
              pr AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
              sym AS (SELECT u AS s, v AS d FROM pr UNION ALL SELECT v, u FROM pr),
              walk(node, hops) AS (
                SELECT (SELECT min(l_partkey) FROM lineitem), 0
                UNION
                SELECT sym.d, w.hops + 1 FROM walk w JOIN sym ON sym.s = w.node
                WHERE w.hops < 3)
              SELECT node, min(hops) AS hops FROM walk
              GROUP BY node ORDER BY node""")),

    // Neighborhood function via HyperBall (Boldi-Rosa-Vigna): per-hop
    // totals of per-node HyperLogLog ball-size estimates over the part
    // co-occurrence graph — the standard effective-diameter /
    // reachability-profile sketch for graphs too big to BFS per node
    // (exact per-node balls are O(n * edges); the sketch is `hops`
    // rounds of one join + one max-merge over an n x 16 register
    // frame). Composes two already-proven families: manual HLL register
    // arithmetic (a_hll_manual) + unrolled frontier iteration
    // (g_kcore's oracle pattern). Parity: per-node estimates floor to
    // e3 micro-ints BEFORE the integer sum (double-summing 2000 node
    // estimates would be partition-order-dependent; integer sums are
    // not), registers derive from md5 (identical across engines), the
    // 2^-rho sums are exact dyadic rationals, and the one ln() branch
    // takes 15 enumerable inputs all >= 2e-3 from a rounding boundary
    // (see GraphAlgos.neighborhoodFunction scaladoc).
    Q("g_neighborhood_func",
      (s, d) => {
        sharedHyperballEstimates(s, d)
          .select(col("h"),
            floor(col("est") * lit(1000) + lit(0.5)).cast("long").as("est_e3"))
          .groupBy("h")
          .agg(count(lit(1)).as("n_nodes"), sum("est_e3").as("sum_est_e3"))
          .orderBy("h")
      },
      Some(neighborhoodOracle(hops = 3))),

    // Weighted shortest paths (Cypher's weighted shortestPath): cheapest
    // trade route from the minimum nation, edge cost = 1/volume (heavy
    // trade = short hop), paths bounded at 4 edges. Micro-distance
    // output: every candidate path's cost accumulates left-to-right as
    // the identical double sequence on both engines, so min() picks
    // bit-identical values and the floor is exact-safe.
    Q("g_shortest_trade",
      (s, d) => {
        val edges = tradeEdges(s, d)
          .select(col("src").as("s"), col("dst").as("d"),
            (lit(1.0) / col("weight")).as("w"))
          .cutLineage()
        // seed = 1-row min aggregate frame, materialized by the
        // relaxation's first checkpoint instead of a driver pre-fetch
        GraphAlgos.shortestPathsFrom(edges, edges.agg(min("s").as("node")),
            maxHops = 4)
          .select(col("node"),
            floor(col("dist") * lit(1000000) + lit(0.5)).cast("long").as("dist_ppm"))
          .orderBy("node")
      },
      Some("""WITH RECURSIVE tr AS MATERIALIZED (
                SELECT c_nationkey AS src, s_nationkey AS dst,
                  1.0::DOUBLE / count(*) AS w
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                WHERE c_nationkey <> s_nationkey
                GROUP BY c_nationkey, s_nationkey),
              walk(node, dist, hops) AS (
                -- the seed literal decides walk.dist's type for the whole
                -- recursion: an un-cast 0.0 is DECIMAL(2,1) in DuckDB and
                -- silently rounds every accumulated 1/volume step to one
                -- decimal place
                SELECT (SELECT min(src) FROM tr), 0.0::DOUBLE, 0
                UNION ALL
                SELECT tr.dst, wk.dist + tr.w, wk.hops + 1
                FROM walk wk JOIN tr ON tr.src = wk.node
                WHERE wk.hops < 4)
              SELECT node,
                CAST(floor(min(dist) * 1000000 + 0.5) AS BIGINT) AS dist_ppm
              FROM walk GROUP BY node ORDER BY node""")),

    // Degree-distribution histogram of the customer -> supplier
    // relationship graph: how many distinct suppliers each customer's
    // orders touch, bucketed. Two shuffles (dedup, then count-of-counts).
    Q("g_degree_hist",
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select("o_custkey", "l_suppkey").distinct()
        .groupBy("o_custkey").agg(count(lit(1)).as("n_suppliers"))
        .groupBy("n_suppliers").agg(count(lit(1)).as("n_customers"))
        .orderBy("n_suppliers"),
      Some("""WITH pairs AS (SELECT DISTINCT o_custkey, l_suppkey
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              deg AS (SELECT o_custkey, count(*)::BIGINT AS n_suppliers
                FROM pairs GROUP BY o_custkey)
              SELECT n_suppliers, count(*)::BIGINT AS n_customers
              FROM deg GROUP BY n_suppliers ORDER BY n_suppliers""")),

    // k-core cohesion over the part co-occurrence graph (the Cypher
    // "dense community" ask): synchronized peeling at k=70 run TO THE
    // FIXED POINT (round-7 verdict #2 — the old fixed 5 sweeps stopped
    // mid-cascade: at sf0.001 the true k=70 core is EMPTY, reached
    // after 7 effective sweeps; at sf0.01 the cascade settles at 1971
    // survivors after 2). Oracle = the identical sweeps unrolled as a
    // generated CTE chain PAST the fixpoint (10 sweeps >= the measured
    // depth at both scales; post-fixpoint sweeps are identities, so
    // unrolling extra rounds is safe, not sloppy).
    Q("g_kcore",
      (s, d) => GraphAlgos.kCore(
          copartDistinct(s, d),
          k = 70)
        .orderBy("node"),
      Some(kcoreOracle(k = 70, rounds = 10))),

    // Deep-cascade k-core witness: a constructed 8-clique with a
    // 12-node chain hanging off it (node ids = the 20 smallest part
    // keys, ranked — data-derived, so both engines build the SAME
    // graph). At k=2 the chain peels exactly ONE node per sweep (only
    // the current free end has degree < 2), so the fixpoint is 13
    // sweeps away — any fixed sweep count <= 12 returns chain remnants
    // that are NOT in the 2-core. The oracle unrolls 16 sweeps (> the
    // 13-sweep fixpoint). The rank joins are non-equi but run over a
    // 20-row broadcast side — a 20x20 nested-loop probe, not a data
    // cartesian.
    Q("g_kcore_deep",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ranked = t(s, d, "part").select("p_partkey")
          .orderBy("p_partkey").limit(20)
          .withColumn("r", row_number().over(Window.orderBy("p_partkey")))
        val a = ranked.select(col("p_partkey").as("u"), col("r").as("ra"))
        val b = ranked.select(col("p_partkey").as("v"), col("r").as("rb"))
        val clique = a.join(broadcast(b),
          col("ra") < col("rb") && col("rb") <= 8).select("u", "v")
        val chain = a.join(broadcast(b),
          col("rb") === col("ra") + 1 && col("ra") >= 8).select("u", "v")
        GraphAlgos.kCore(clique.unionByName(chain), k = 2).orderBy("node")
      },
      Some(kcoreDeepOracle(rounds = 16))),

    // Community detection by synchronized label propagation over the
    // SPARSIFIED co-occurrence graph (pairs sharing >= 2 orders: 1880
    // nodes / 3445 edges at sf0.01 — the raw graph is a near-clique
    // where every LPA run collapses to one community; the repeat-trade
    // backbone has real cluster structure). 4 deterministic sweeps;
    // output is community sizes. Oracle = the sweeps unrolled (argmax
    // label per node per round as a window over grouped counts).
    Q("g_labelprop",
      (s, d) => {
        val edges = copartSparse(s, d)
        GraphAlgos.labelPropagation(edges, rounds = 4)
          .groupBy(col("lbl").as("community"))
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy("community")
      },
      Some(labelPropOracle(rounds = 4))),

    // Modularity audit of the g_labelprop partition: per-community
    // Newman-Q accounting in EXACT integer form (contribution =
    // (4*m*m_c - d_c^2) / (4*m^2), emitted as numerator + shared
    // denominator BIGINTs — no float ever; see
    // GraphAlgos.modularityByCommunity). The "is the community
    // structure real" check that follows any community detection: a
    // partition with sum(contrib_num) <= 0 is no better than random.
    // The edge count m folds in-plan as a 1-row broadcast (no driver
    // scalar); everything else is node- or community-keyed.
    Q("g_modularity",
      (s, d) => {
        val edges = copartSparse(s, d)
        val labels = GraphAlgos.labelPropagation(edges, rounds = 4)
        GraphAlgos.modularityByCommunity(edges, labels).orderBy("community")
      },
      Some(modularityOracle(rounds = 4))),

    // Effective diameter from the HyperBall sketch (the readout
    // g_neighborhood_func's per-hop totals exist FOR): the smallest h
    // whose summed ball-size estimates reach 90% of the h_max total —
    // computed on the e3 micro-int per-hop sums, so the 90% test is
    // pure BIGINT arithmetic (10 * N(h) >= 9 * N(h_max)) and the one
    // window runs over the (hops+1)-row per-hop frame, never the graph.
    Q("g_eff_diameter",
      (s, d) => {
        val nf = sharedHyperballEstimates(s, d)
          .select(col("h"),
            floor(col("est") * lit(1000) + lit(0.5)).cast("long").as("e3"))
          .groupBy("h").agg(sum("e3").as("sum_est_e3"))
        val w = org.apache.spark.sql.expressions.Window.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
        nf.withColumn("nmax",
            max(when(col("h") === lit(3), col("sum_est_e3"))).over(w))
          .withColumn("reach_ppm", expr("(1000000 * sum_est_e3) div nmax"))
          .withColumn("eff_diameter",
            min(when(expr("10 * sum_est_e3 >= 9 * nmax"), col("h"))).over(w)
              .cast("long"))
          .select("h", "sum_est_e3", "reach_ppm", "eff_diameter")
          .orderBy("h")
      },
      Some(effDiameterOracle(hops = 3))),

    // Harmonic centrality from the SAME HyperBall registers (the
    // per-NODE readout, where g_eff_diameter is the per-GRAPH one):
    // Boldi-Vigna estimate sum_h (|ball(v,h)| - |ball(v,h-1)|) / h —
    // nodes whose reachable set grows EARLY score high. This is the
    // centrality that works on 100 TB graphs: exact harmonic
    // centrality is all-pairs BFS, the sketch is the `hops` register
    // rounds already paid for the neighborhood function plus one
    // 4-column pivot over the (node, h, est) frame. Parity: per-node
    // estimates floor to e3 micro-ints BEFORE differencing, and the
    // 1/h weights become the integer multipliers (6, 3, 2) = 6/h —
    // the score is pure BIGINT arithmetic; top-20 ties break on node.
    Q("g_harmonic_hyperball",
      (s, d) => {
        val nf = sharedHyperballEstimates(s, d)
          .select(col("node"), col("h"),
            floor(col("est") * lit(1000) + lit(0.5)).cast("long").as("e3"))
        nf.groupBy("node")
          .agg(max(when(col("h") === 0, col("e3"))).as("b0"),
            max(when(col("h") === 1, col("e3"))).as("b1"),
            max(when(col("h") === 2, col("e3"))).as("b2"),
            max(when(col("h") === 3, col("e3"))).as("b3"))
          .select(col("node"),
            ((col("b1") - col("b0")) * lit(6L) + (col("b2") - col("b1")) * lit(3L)
              + (col("b3") - col("b2")) * lit(2L)).as("harm_e3x6"),
            col("b3").as("ball3_e3"))
          .orderBy(desc("harm_e3x6"), asc("node"))
          .limit(20)
      },
      Some(harmonicOracle(hops = 3))),

    // Sampled harmonic closeness (Eppstein-Wang pivot estimate): hop
    // distances from k = 4 pivot seeds to every node, then per node the
    // harmonic sum over reached pivots — THE centrality family that
    // survives 100 TB graphs, because cost is k BFS sweeps instead of
    // the all-pairs O(n * edges). Seeds derive in-plan (a 4-row
    // TakeOrderedAndProject over distinct part keys — no driver
    // fetch); per-pivot terms are exact integer micro-units
    // (1000000 div hops), so the per-node sum is a BIGINT aggregation
    // no partition order can move.
    Q("g_closeness_sampled",
      (s, d) => {
        val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
        val pairs = copartDistinct(s, d)
          .select(col("u").as("s"), col("v").as("d"))
        val seeds = li.select("l_partkey").distinct()
          .orderBy("l_partkey").limit(4)
        GraphAlgos.bfsHopsPerSeed(pairs, seeds, maxHops = 4)
          .filter(col("hops") > 0)
          .groupBy("node")
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("1000000 div hops")).as("harmonic_e6"))
          .orderBy("node")
      },
      Some("""WITH RECURSIVE
              pr AS MATERIALIZED (
                SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
              sym AS MATERIALIZED (
                SELECT u AS s, v AS d FROM pr UNION ALL SELECT v, u FROM pr),
              seeds AS MATERIALIZED (
                SELECT l_partkey AS seed FROM (
                  SELECT DISTINCT l_partkey FROM lineitem ORDER BY 1 LIMIT 4)),
              walk(seed, node, hops) AS (
                SELECT seed, seed, 0 FROM seeds
                UNION
                SELECT w.seed, sym.d, w.hops + 1
                FROM walk w JOIN sym ON sym.s = w.node
                WHERE w.hops < 4),
              dist AS (SELECT seed, node, min(hops) AS hops
                       FROM walk GROUP BY 1, 2)
              SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
                CAST(sum(1000000 // hops) AS BIGINT) AS harmonic_e6
              FROM dist WHERE hops > 0
              GROUP BY node ORDER BY node""")),

    // Sampled betweenness centrality (Brandes pivots — the third member
    // of the sampled-centrality family next to closeness and the
    // HyperBall harmonic): forward BFS from 4 pivot seeds accumulating
    // shortest-path counts sigma, then Brandes' dependency
    // back-propagation delta(v) = sum_w sigma_v/sigma_w (1 + delta(w))
    // by descending radius. Parity: sigma sums are exact BIGINT; each
    // dependency TERM truncates to integer micro-units BEFORE its sum
    // ((sigma_v * (1e6 + delta_e6_w)) div sigma_w), so both engines
    // replay the identical integer recurrence regardless of partition
    // or join order. The oracle unrolls the same 3 forward + 3 backward
    // rounds as materialized CTEs. Top-20, ties on node.
    Q("g_betweenness_sampled",
      (s, d) => {
        val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
        val pairs = copartDistinct(s, d)
          .select(col("u").as("s"), col("v").as("d"))
        val seeds = li.select("l_partkey").distinct()
          .orderBy("l_partkey").limit(4)
        val bw = GraphAlgos.betweennessSampled(pairs, seeds, maxHops = 3)
          .orderBy(desc("betweenness_e6"), asc("node"))
          .limit(20)
        bw.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("betweenness_e6"), asc("node"))))
          .select("rn", "node", "betweenness_e6")
          .orderBy("rn")
      },
      Some("""WITH pr AS MATERIALIZED (
                SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
              sym AS MATERIALIZED (
                SELECT u AS s, v AS d FROM pr UNION ALL SELECT v, u FROM pr),
              seeds AS MATERIALIZED (
                SELECT l_partkey AS seed FROM (
                  SELECT DISTINCT l_partkey FROM lineitem ORDER BY 1 LIMIT 4)),
              f0 AS MATERIALIZED (
                SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma FROM seeds),
              f1 AS MATERIALIZED (
                SELECT f0.seed, sym.d AS node, CAST(sum(f0.sigma) AS BIGINT) AS sigma
                FROM f0 JOIN sym ON sym.s = f0.node
                WHERE NOT EXISTS (SELECT 1 FROM f0 p
                  WHERE p.seed = f0.seed AND p.node = sym.d)
                GROUP BY 1, 2),
              s1 AS MATERIALIZED (
                SELECT seed, node FROM f0 UNION ALL SELECT seed, node FROM f1),
              f2 AS MATERIALIZED (
                SELECT f1.seed, sym.d AS node, CAST(sum(f1.sigma) AS BIGINT) AS sigma
                FROM f1 JOIN sym ON sym.s = f1.node
                WHERE NOT EXISTS (SELECT 1 FROM s1 p
                  WHERE p.seed = f1.seed AND p.node = sym.d)
                GROUP BY 1, 2),
              s2 AS MATERIALIZED (
                SELECT seed, node FROM s1 UNION ALL SELECT seed, node FROM f2),
              f3 AS MATERIALIZED (
                SELECT f2.seed, sym.d AS node, CAST(sum(f2.sigma) AS BIGINT) AS sigma
                FROM f2 JOIN sym ON sym.s = f2.node
                WHERE NOT EXISTS (SELECT 1 FROM s2 p
                  WHERE p.seed = f2.seed AND p.node = sym.d)
                GROUP BY 1, 2),
              d3 AS MATERIALIZED (
                SELECT seed, node, sigma, CAST(0 AS BIGINT) AS delta FROM f3),
              d2 AS MATERIALIZED (
                SELECT v.seed, v.node, v.sigma, COALESCE(c.delta, 0) AS delta
                FROM f2 v LEFT JOIN (
                  SELECT v2.seed, v2.node,
                    CAST(sum((v2.sigma * (1000000 + w.delta)) // w.sigma)
                      AS BIGINT) AS delta
                  FROM f2 v2 JOIN sym ON sym.s = v2.node
                  JOIN d3 w ON w.seed = v2.seed AND w.node = sym.d
                  GROUP BY 1, 2) c ON c.seed = v.seed AND c.node = v.node),
              d1 AS MATERIALIZED (
                SELECT v.seed, v.node, v.sigma, COALESCE(c.delta, 0) AS delta
                FROM f1 v LEFT JOIN (
                  SELECT v2.seed, v2.node,
                    CAST(sum((v2.sigma * (1000000 + w.delta)) // w.sigma)
                      AS BIGINT) AS delta
                  FROM f1 v2 JOIN sym ON sym.s = v2.node
                  JOIN d2 w ON w.seed = v2.seed AND w.node = sym.d
                  GROUP BY 1, 2) c ON c.seed = v.seed AND c.node = v.node),
              d0 AS MATERIALIZED (
                SELECT v.seed, v.node, v.sigma, COALESCE(c.delta, 0) AS delta
                FROM f0 v LEFT JOIN (
                  SELECT v2.seed, v2.node,
                    CAST(sum((v2.sigma * (1000000 + w.delta)) // w.sigma)
                      AS BIGINT) AS delta
                  FROM f0 v2 JOIN sym ON sym.s = v2.node
                  JOIN d1 w ON w.seed = v2.seed AND w.node = sym.d
                  GROUP BY 1, 2) c ON c.seed = v.seed AND c.node = v.node),
              alld AS (
                SELECT seed, node, delta FROM d3
                UNION ALL SELECT seed, node, delta FROM d2
                UNION ALL SELECT seed, node, delta FROM d1
                UNION ALL SELECT seed, node, delta FROM d0)
              SELECT rn, node, betweenness_e6 FROM (
                SELECT node, CAST(sum(delta) AS BIGINT) AS betweenness_e6,
                  row_number() OVER (ORDER BY sum(delta) DESC, node) AS rn
                FROM alld WHERE node <> seed GROUP BY node)
              WHERE rn <= 20 ORDER BY rn""")),

    // Deterministic random-walk sampling (DeepWalk/node2vec corpus
    // prep) over the sparsified co-occurrence graph: 4-step walks from
    // the 25 smallest nodes, neighbor choice = md5(cur, step, start)
    // mod degree over the rank-ordered neighbor list — content-derived
    // "randomness", so the walks are engine- and run-reproducible (the
    // property that makes walk corpora verifiable and resumable at
    // scale). One ranked-adjacency build + one node-keyed join per
    // step; the oracle unrolls the same joins with the identical
    // md5-nibble arithmetic.
    Q("g_random_walks",
      (s, d) => {
                sharedWalks(s, d, steps = 4, startsLimit = 25)
          .orderBy("start", "step")
      },
      Some(randomWalkOracle(steps = 4))),

    // Skip-gram pair extraction over the deterministic walks — the
    // actual TRAINING INPUT of DeepWalk/node2vec (center, context)
    // co-occurrence within a +-2 window along each walk. Walks are
    // |starts| x (steps+1) rows, so the per-start self-join is bounded
    // by the walk length, not the graph; the pair counts aggregate
    // map-side and the top-k is TakeOrderedAndProject.
    Q("g_walk_skipgrams",
      (s, d) => {
                val wk = sharedWalks(s, d, steps = 4, startsLimit = 25)
        val a = wk.select(col("start"), col("step").as("sa"), col("node").as("center"))
        val b = wk.select(col("start"), col("step").as("sb"), col("node").as("context"))
        a.join(b, Seq("start"))
          .filter(col("sa") =!= col("sb") && abs(col("sa") - col("sb")) <= 2)
          .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("center").asc, col("context").asc)
          .limit(20)
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("center").asc, col("context").asc)))
          .select("rn", "center", "context", "cnt")
          .orderBy("rn")
      },
      Some(skipgramOracle(steps = 4, window = 2, topK = 20))),

    // Negative sampling for the skip-gram pairs — the third stage of
    // the DeepWalk/word2vec training-input pipeline (walks ->
    // skip-grams -> k negatives per pair from the unigram^(3/4)
    // distribution, Mikolov et al. 2013). Determinism discipline:
    // f^(3/4) = sqrt(sqrt(f^3)) — IEEE sqrt is CORRECTLY ROUNDED, so
    // unlike pow() the weight is bit-identical across engines — then
    // floored to e6 BIGINT weights, so the CDF is pure integer; each
    // draw hashes the pair's position key to 16 bits and maps it onto
    // the CDF with (u16 * total) div 65536 (products <= ~1e15, no
    // overflow). The CDF window runs over the walk-visited vocabulary
    // — bounded by starts x steps, never the graph. The negative
    // lookup is a broadcast range join against that tiny CDF frame.
    Q("g_negative_samples",
      (s, d) => {
                val wk = sharedWalks(s, d, steps = 4, startsLimit = 25)
        val vocab = wk.groupBy("node").agg(count(lit(1)).as("f"))
          .withColumn("wi", expr(
            "CAST(floor(sqrt(sqrt(CAST(f * f * f AS DOUBLE))) * 1000000 + 0.5) AS BIGINT)"))
          .withColumn("cum_hi", sum("wi").over(
            org.apache.spark.sql.expressions.Window.orderBy("node")
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .withColumn("cum_lo", col("cum_hi") - col("wi"))
        val tot = vocab.agg(max("cum_hi").as("tot"))
        val a = wk.select(col("start"), col("step").as("sa"), col("node").as("center"))
        val b = wk.select(col("start"), col("step").as("sb"), col("node").as("context"))
        val draws = a.join(b, Seq("start"))
          .filter(col("sa") =!= col("sb") && abs(col("sa") - col("sb")) <= 2)
          .crossJoin(broadcast(tot))
          .withColumn("j", explode(expr("sequence(1, 2)")))
          .withColumn("u16", expr(
            """CAST(conv(substring(md5(concat(cast(start AS STRING), ':',
               cast(sa AS STRING), ':', cast(sb AS STRING), ':',
               cast(j AS STRING))), 1, 4), 16, 10) AS BIGINT)"""))
          .withColumn("target", expr("(u16 * tot) div 65536"))
        draws.join(broadcast(vocab.select(col("node").as("neg"),
            col("wi"), col("cum_lo"), col("cum_hi"))),
            col("target") >= col("cum_lo") && col("target") < col("cum_hi"))
          .groupBy("neg", "wi")
          .agg(count(lit(1)).as("n_draws"),
            sum(when(col("neg") === col("context"), 1L).otherwise(0L))
              .as("n_collisions"))
          .orderBy(col("n_draws").desc, col("neg").asc)
          .limit(15)
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n_draws").desc, col("neg").asc)))
          .select("rn", "neg", "wi", "n_draws", "n_collisions")
          .orderBy("rn")
      },
      Some(negativeSampleOracle(steps = 4, window = 2, k = 2, topK = 15))),

    // Walk-visit centrality — the sampling-based centrality estimate
    // (nodes that deterministic walks keep landing on are the traffic
    // carriers; the walk-count proxy used when exact betweenness'
    // all-pairs cost is off the table). 6-step walks from 50 in-plan
    // pivots; visits and distinct-walk counts are integers, top-20 is
    // TakeOrderedAndProject.
    Q("g_walk_centrality",
      (s, d) => {
                sharedWalks(s, d, steps = 6, startsLimit = 50)
          .groupBy("node")
          .agg(count(lit(1)).as("visits"),
            countDistinct("start").as("n_walks"))
          .orderBy(col("visits").desc, col("node").asc)
          .limit(20)
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("visits").desc, col("node").asc)))
          .select("rn", "node", "visits", "n_walks")
          .orderBy("rn")
      },
      Some(walkCentralityOracle(steps = 6, startsLimit = 50, topK = 20))),

    // k-truss decomposition (edge-level cohesion, one notch stronger
    // than k-core): corpus-grounded 3-truss of the sparsified
    // co-occurrence graph — keep edges lying in >= 1 triangle among
    // survivors, iterated to fixpoint (the sweep-1 drop of
    // triangle-free edges cascades). Oracle = the sweeps unrolled past
    // the measured fixpoint (over-unrolling is stable: e_i = e_{i-1}
    // once converged).
    Q("g_ktruss",
      (s, d) => {
        val edges = copartSparse(s, d)
        GraphAlgos.kTruss(edges, k = 3).orderBy("node")
      },
      Some(ktrussOracle(k = 3, rounds = 6))),

    // The k-truss FIXPOINT witness (the g_kcore_deep pattern): a
    // 10-cell triangle ladder + a disjoint K5, built from the 25
    // smallest part keys. Under k = 4 the ladder peels over THREE
    // dependent sweeps (ends first, then the edges whose support they
    // carried, then the stragglers) while the K5 — every edge support
    // 3 — survives untouched: a single-pass support filter would
    // return 30+ ladder edges; only the true fixpoint returns exactly
    // the K5.
    Q("g_ktruss_deep",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ranked = t(s, d, "part").select("p_partkey")
          .orderBy("p_partkey").limit(25)
          .withColumn("r", row_number().over(Window.orderBy("p_partkey")))
        val a = ranked.select(col("p_partkey").as("u"), col("r").as("ra"))
        val b = ranked.select(col("p_partkey").as("v"), col("r").as("rb"))
        val edges = a.join(broadcast(b),
          (col("ra") <= 10 && col("rb") === col("ra") + 10) ||          // rungs
            (col("ra") <= 9 && col("rb") === col("ra") + 1) ||          // a-rail
            (col("ra").between(11, 19) && col("rb") === col("ra") + 1) || // b-rail
            (col("ra") <= 9 && col("rb") === col("ra") + 11) ||         // diagonals
            (col("ra") >= 21 && col("rb") > col("ra") && col("rb") <= 25)) // K5
          .select("u", "v")
        GraphAlgos.kTruss(edges, k = 4).orderBy("node")
      },
      Some(ktrussDeepOracle(k = 4, rounds = 6))),

    // Strongly connected components of the DIRECTED part-successor
    // graph (part a -> part b when b follows a by linenumber in some
    // order): the directed question the undirected dedup-components
    // machinery cannot answer — "which parts sit in mutually-reachable
    // order-flow cycles". operators/Scc runs trim + forward min-label
    // coloring + color-preserving reverse containment, BOTH
    // propagations path-halved to O(log n) rounds; the oracle runs the
    // SAME decomposition but with MAX-label coloring and a different
    // peel order — legitimate because a graph's SCC partition is
    // UNIQUE, so any correct algorithm must emit identical components;
    // every oracle propagation carries a one-more-round fixpoint guard
    // (the xdc discipline: non-convergence empties the result and
    // fails the row compare loudly). Output: one row per SCC labeled
    // by its minimum member.
    Q("g_scc_parts",
      (s, d) => {
        // low-quantity lines only: the full successor graph is one
        // giant SCC (dense supercritical regime — a 1-row answer);
        // the q <= 15 subgraph sits just past the percolation
        // threshold, giant SCC + dust, the shape where trim, coloring
        // AND peeling all do real work
        val li = t(s, d, "lineitem")
          .filter(col("l_quantity") <= 15)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey").cast("long").as("p"))
        val nxt = li.select(col("l_orderkey"),
          (col("l_linenumber") - 1).as("l_linenumber"), col("p").as("p2"))
        val edges = li.join(nxt, Seq("l_orderkey", "l_linenumber"))
          .filter(col("p") =!= col("p2"))
          .select(col("p").as("src"), col("p2").as("dst"))
        val comps = graft.operators.Scc.strongComponents(edges)
        val sizes = comps.groupBy("scc").agg(count(lit(1)).as("scc_size"))
        comps.join(sizes, Seq("scc"))
          .select(col("node").as("part"), col("scc").as("scc_id"),
            col("scc_size"))
          .orderBy("part")
      },
      // propRounds: measured fixpoint depth is 27 at sf0.01 AND sf0.1
      // (the sf1 corpus is 10 disjoint copies of sf0.1's graph, so the
      // diameter is unchanged); 48 = ~1.8x margin, and the guard turns
      // any overrun into a loud empty-result failure
      Some(sccOracle(peels = 4, trims = 24, propRounds = 48))),

    Q("g_msf_forest",
      // Boruvka minimum spanning forest (operators/Boruvka) over the
      // part--supplier bipartite graph of rare line items (quantity
      // <= 2, every 7th supplier — just sparse enough that the forest
      // has several trees instead of one giant span): node ids encode
      // part as 2k / supplier as 2k+1, weights are integer cent-units
      // of the cheapest such line per pair, and the (w, a, b) ranking
      // makes the MSF unique — so the oracle's replay of the SAME
      // deterministic rounds (staged temp-table Boruvka: window-ranked
      // hook, 2-cycle root resolution, 24 pointer jumps, all guarded)
      // must produce the identical forest. Output is the per-tree
      // rollup: a wrong edge anywhere moves w_e2; n_edges = n_nodes-1
      // is the tree invariant carried as data. Measured rounds: 3 at
      // sf0.01, 5 at sf0.1 (sf1 = disjoint copies, depth unchanged);
      // the oracle unrolls 10 with a loud cross-edges-remain guard.
      (s, d) => {
        val e = t(s, d, "lineitem")
          .filter(col("l_quantity") <= 2 && col("l_suppkey") % 7 === 0)
          .select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
              .as("w"))
        val msf = graft.operators.Boruvka.minimumSpanningForest(e)
        val nodes = msf.select(col("tree"), col("a").as("node"))
          .union(msf.select(col("tree"), col("b")))
          .distinct()
          .groupBy("tree").agg(count(lit(1)).as("n_nodes"))
        msf.groupBy("tree")
          .agg(count(lit(1)).as("n_edges"), sum("w").as("w_e2"),
            min("w").as("w_min"), max("w").as("w_max"))
          .join(nodes, Seq("tree"))
          .select(col("tree"), col("n_nodes"), col("n_edges"),
            col("w_e2"), col("w_min"), col("w_max"))
          .orderBy("tree")
      },
      Some(boruvkaOracle(rounds = 10, jumps = 24))),

    Q("g_temporal_reach",
      // Time-respecting earliest arrival (operators/TemporalGraph —
      // Kempe et al.'s temporal reachability): the full line-successor
      // part graph with t = the receiving line's ship day, sources =
      // every 200th part, arrival 0. An edge extends a path only when
      // its timestamp is >= the arrival at its tail, so this wave is
      // NOT static reachability (a late edge into an early hub carries
      // nothing) — the contagion/provenance primitive. Output is the
      // arrival-year wave (count + min/max arrival day per year): the
      // measured fixpoint needs 11 rounds at sf0.01 / 15 at sf0.1
      // (sf1 = disjoint copies, depth unchanged); the oracle unrolls
      // 24 with a one-more-round change guard that empties the result
      // on overrun.
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_shipdate"))
        val nxt = li.select(col("l_orderkey"),
          (col("l_linenumber") - 1).as("l_linenumber"),
          col("l_partkey").as("p2"), col("l_shipdate").as("sd2"))
        val edges = li.join(nxt, Seq("l_orderkey", "l_linenumber"))
          .filter(col("l_partkey") =!= col("p2"))
          .select(col("l_partkey").as("u"), col("p2").as("v"),
            datediff(to_date(col("sd2")), to_date(lit("1992-01-01")))
              .cast("long").as("t"))
          .distinct()
          // cut BEFORE deriving sources: without it the `sources` plan
          // recomputes the whole lineitem self-join + distinct a second
          // time (round-15 bench-tail finding — ~2-3 s of the 8 s was
          // this silent duplicate derivation)
          .cutLineage()
        val sources = edges.filter(col("u") % 200 === 0)
          .select(col("u").as("node")).distinct()
        graft.operators.TemporalGraph.earliestArrival(edges, sources)
          .groupBy(expr("CAST(arr div 365 AS BIGINT)").as("yr"))
          .agg(count(lit(1)).as("n_parts"),
            min("arr").cast("long").as("first_day"),
            max("arr").cast("long").as("last_day"))
          .orderBy("yr")
      },
      Some(temporalReachOracle(rounds = 24))),

    Q("g_wl_colors",
      // Weisfeiler-Lehman color refinement (operators/WlRefinement —
      // 1-WL, the GNN expressiveness bound) on the symmetrized
      // low-quantity successor graph: 3 rounds of md5(own label +
      // sorted neighbor multiset), initial color = degree. The top-30
      // color classes ship with their md5 strings — the strongest
      // possible cross-engine check: a single mis-sorted multiset,
      // degree off by one, or hash-input format drift anywhere in 3
      // rounds changes the md5 and breaks the hash compare.
      (s, d) => {
        val li = t(s, d, "lineitem")
          .filter(col("l_quantity") <= 15)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey").cast("long").as("p"))
        val nxt = li.select(col("l_orderkey"),
          (col("l_linenumber") - 1).as("l_linenumber"),
          col("p").as("p2"))
        val edges = li.join(nxt, Seq("l_orderkey", "l_linenumber"))
          .filter(col("p") =!= col("p2"))
          .select(col("p").as("src"), col("p2").as("dst"))
        graft.operators.WlRefinement.colors(edges, rounds = 3)
          .groupBy("color").agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("n_nodes").desc, col("color"))
          .limit(30)
      },
      Some("""CREATE OR REPLACE TEMP TABLE wl_e AS
             SELECT DISTINCT s, d FROM (
               SELECT CAST(a.l_partkey AS BIGINT) AS s,
                 CAST(b.l_partkey AS BIGINT) AS d
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey
                 AND b.l_linenumber = a.l_linenumber + 1
               WHERE a.l_partkey <> b.l_partkey
                 AND a.l_quantity <= 15 AND b.l_quantity <= 15
               UNION ALL
               SELECT CAST(b.l_partkey AS BIGINT),
                 CAST(a.l_partkey AS BIGINT)
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey
                 AND b.l_linenumber = a.l_linenumber + 1
               WHERE a.l_partkey <> b.l_partkey
                 AND a.l_quantity <= 15 AND b.l_quantity <= 15);
             CREATE OR REPLACE TEMP TABLE wl_l AS
             SELECT s AS node, CAST(count(*) AS VARCHAR) AS lbl
             FROM wl_e GROUP BY s;
             CREATE OR REPLACE TEMP TABLE wl_n AS
             SELECT e.d AS node, string_agg(p.lbl, ',' ORDER BY p.lbl) AS ns
             FROM wl_e e JOIN wl_l p ON p.node = e.s GROUP BY e.d;
             CREATE OR REPLACE TEMP TABLE wl_l2 AS
             SELECT l.node, md5(l.lbl || ':' || n.ns) AS lbl
             FROM wl_l l JOIN wl_n n ON n.node = l.node;
             CREATE OR REPLACE TEMP TABLE wl_l AS SELECT * FROM wl_l2;
             CREATE OR REPLACE TEMP TABLE wl_n AS
             SELECT e.d AS node, string_agg(p.lbl, ',' ORDER BY p.lbl) AS ns
             FROM wl_e e JOIN wl_l p ON p.node = e.s GROUP BY e.d;
             CREATE OR REPLACE TEMP TABLE wl_l2 AS
             SELECT l.node, md5(l.lbl || ':' || n.ns) AS lbl
             FROM wl_l l JOIN wl_n n ON n.node = l.node;
             CREATE OR REPLACE TEMP TABLE wl_l AS SELECT * FROM wl_l2;
             CREATE OR REPLACE TEMP TABLE wl_n AS
             SELECT e.d AS node, string_agg(p.lbl, ',' ORDER BY p.lbl) AS ns
             FROM wl_e e JOIN wl_l p ON p.node = e.s GROUP BY e.d;
             CREATE OR REPLACE TEMP TABLE wl_l2 AS
             SELECT l.node, md5(l.lbl || ':' || n.ns) AS lbl
             FROM wl_l l JOIN wl_n n ON n.node = l.node;
             CREATE OR REPLACE TEMP TABLE wl_l AS SELECT * FROM wl_l2;
             SELECT lbl AS color, CAST(count(*) AS BIGINT) AS n_nodes
             FROM wl_l GROUP BY lbl
             ORDER BY n_nodes DESC, color LIMIT 30""")),

    Q("g_densest_sub",
      // Densest-subgraph extraction (operators/DensestSubgraph —
      // Charikar's greedy 2-approx, parallelized a la Bahmani et al.
      // 2012) over the repeat-trade backbone: each round peels EVERY
      // node with deg * n <= 3 * m (the eps = 1/2 batch rule — a pure
      // integer predicate, so the whole round history is bit-exact),
      // finishing in O(log n) rounds where Charikar's one-node-per-step
      // peel needs O(n). The published frame is the full round history
      // with the argmax-density round flagged (exact cross-multiplied
      // m/n comparison, ties to the earliest round) — data-driven
      // enough that the flag actually moves: at sf0.01 the whole
      // backbone is its own densest subgraph, at sf0.1 the peel finds
      // a 13-node pocket denser than the full graph. The complement of
      // the threshold operators: kCore/kTruss keep everything above a
      // FIXED bar, this finds the globally densest pocket with no bar
      // to guess. Oracle: the same integer peel unrolled 10 rounds
      // (measured fixpoint: 4 at sf0.01 and sf0.1), with an overrun
      // guard that empties the result if round 10 still has edges.
      (s, d) => {
        val edges = copartSparse(s, d)
        graft.operators.DensestSubgraph.peelRounds(edges)
          .orderBy("round")
      },
      Some(densestSubOracle(rounds = 10)))
  ,

    Q("g_coloring",
      // Distributed greedy graph coloring (operators/Coloring —
      // Jones-Plassmann 1993) of the repeat-trade backbone: priority-
      // local-maximum rounds with first-fit (mex) color choice,
      // priorities the 48-bit md5 of the node id (id tiebreak) so the
      // entire coloring is bit-exact on any engine — the paper's
      // randomness without the nondeterminism. A proper coloring is a
      // conflict-free BATCHING (same-color nodes share no edge), the
      // scheduling primitive behind batched graph mutation. Published:
      // the color histogram PLUS an in-row properness audit
      // (monochrome-edge count, computed independently by each engine
      // from its own coloring — a single conflicting assignment
      // anywhere makes the column nonzero and the row red). Measured
      // fixpoint: 12 rounds at sf0.01, 5 at sf0.1; oracle unrolls 20
      // with an uncolored-overrun guard that empties the result.
      (s, d) => {
        val edges = copartSparse(s, d)
        val colors = graft.operators.Coloring.jonesPlassmann(edges)
          .cutLineage()
        val viol = broadcast(edges
          .join(colors.select(col("node").as("u"), col("color").as("ca")),
            Seq("u"))
          .join(colors.select(col("node").as("v"), col("color").as("cb")),
            Seq("v"))
          .filter(col("ca") === col("cb"))
          .agg(count(lit(1)).as("n_violations")))
        colors.groupBy("color").agg(count(lit(1)).as("n_nodes"))
          .crossJoin(viol)
          .select("color", "n_nodes", "n_violations")
          .orderBy("color")
      },
      Some(coloringOracle(rounds = 20)))
  ,

    Q("g_greedy_matching",
      // Distributed greedy weighted matching (operators/Matching —
      // Preis's locally-dominant edges, STACS 1999) on the undirected
      // nation trade graph (weights = summed bidirectional lineitem
      // counts): an edge outranking every edge at BOTH endpoints
      // matches immediately; under the total (w desc, u, v) order the
      // result IS the sequential sort-and-take greedy — the 1/2-approx
      // maximum-weight matching — computed in O(log m) synchronized
      // rounds instead of a sequential sweep. The assignment/pairing
      // primitive (reviewer-document pairing, duplicate-pair
      // consolidation) without the auction algorithm's value/eps price
      // war. Oracle: 12 unrolled dominant-edge rounds with a
      // survivors-remain guard; MatchingSpec pins equality with a
      // sequential greedy twin.
      (s, d) => {
        val tr = tradeEdges(s, d)
        val und = tr.select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"), col("weight"))
          .groupBy("u", "v").agg(sum("weight").as("w"))
        graft.operators.Matching.greedy(und)
          .withColumn("w", col("w").cast("long"))
          .orderBy("u", "v")
      },
      Some(matchingOracle(rounds = 12)))
  )

  /** Staged locally-dominant matching oracle: the symmetrized trade
    * weights, `rounds` unrolled rounds (an edge is dominant iff its
    * (w desc, u, v) rank is minimal among all edges sharing either
    * endpoint), with an unmatched-edges-remain guard. */
  private def matchingOracle(rounds: Int): String = {
    val sweeps = (1 to rounds).map { i =>
      s""",
         mr$i AS (SELECT u, v, w, row_number() OVER (
             ORDER BY w DESC, u, v) AS r FROM me${i - 1}),
         dom$i AS MATERIALIZED (
           SELECT e.u, e.v, e.w FROM mr$i e
           WHERE NOT EXISTS (
             SELECT 1 FROM mr$i f
             WHERE f.r < e.r AND (f.u = e.u OR f.v = e.u
               OR f.u = e.v OR f.v = e.v))),
         me$i AS MATERIALIZED (
           SELECT e.u, e.v, e.w FROM me${i - 1} e
           WHERE NOT EXISTS (
             SELECT 1 FROM dom$i d
             WHERE d.u = e.u OR d.v = e.u OR d.u = e.v OR d.v = e.v))"""
    }.mkString
    val acc = (1 to rounds).map(i => s"SELECT u, v, w FROM dom$i")
      .mkString("\n           UNION ALL ")
    s"""WITH tr AS MATERIALIZED (
           SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS weight
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN supplier ON l_suppkey = s_suppkey
           WHERE c_nationkey <> s_nationkey
           GROUP BY 1, 2),
         me0 AS MATERIALIZED (
           SELECT least(src, dst) AS u, greatest(src, dst) AS v,
             CAST(sum(weight) AS BIGINT) AS w
           FROM tr GROUP BY 1, 2)$sweeps
         SELECT u, v, w FROM ($acc)
         WHERE (SELECT count(*) FROM me$rounds) = 0
         ORDER BY u, v"""
  }

  /** Staged Jones-Plassmann oracle: the labelprop backbone symmetrized
    * with 48-bit md5 priorities, `rounds` unrolled rounds of
    * (local-maximum by NOT EXISTS higher-priority uncolored neighbor)
    * + (first-fit mex from a 0..63 candidate range via NOT EXISTS
    * colored neighbor), an uncolored-overrun guard, and the same
    * independent monochrome-edge audit. */
  private def coloringOracle(rounds: Int): String = {
    val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
    val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
      .mkString("CAST(", " + ", " AS BIGINT)")
    val sweeps = (1 to rounds).map { i =>
      s""",
         lm$i AS MATERIALIZED (
           SELECT u.node, u.pr FROM un${i - 1} u
           WHERE NOT EXISTS (
             SELECT 1 FROM sym e JOIN un${i - 1} w ON w.node = e.d
             WHERE e.s = u.node
               AND (w.pr > u.pr OR (w.pr = u.pr AND w.node > u.node)))),
         c$i AS MATERIALIZED (
           SELECT lm.node, min(cand.c) AS color
           FROM lm$i lm, (SELECT unnest(range(0, 64)) AS c) cand
           WHERE NOT EXISTS (
             SELECT 1 FROM sym e JOIN colored${i - 1} k ON k.node = e.d
             WHERE e.s = lm.node AND k.color = cand.c)
           GROUP BY lm.node),
         colored$i AS MATERIALIZED (
           SELECT * FROM colored${i - 1} UNION ALL SELECT * FROM c$i),
         un$i AS MATERIALIZED (
           SELECT u.* FROM un${i - 1} u
           WHERE NOT EXISTS (SELECT 1 FROM c$i WHERE c$i.node = u.node))"""
    }.mkString
    s"""WITH po AS MATERIALIZED (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         und AS MATERIALIZED (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         sym AS MATERIALIZED (
           SELECT u AS s, v AS d FROM und UNION ALL SELECT v, u FROM und),
         un0 AS MATERIALIZED (
           SELECT node, $h48 AS pr FROM (
             SELECT DISTINCT s AS node, md5(CAST(s AS VARCHAR)) AS h
             FROM sym)),
         colored0 AS (SELECT CAST(NULL AS BIGINT) AS node,
                        CAST(NULL AS BIGINT) AS color WHERE false)$sweeps
         SELECT color, CAST(count(*) AS BIGINT) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM und e
            JOIN colored$rounds a ON a.node = e.u
            JOIN colored$rounds b ON b.node = e.v
            WHERE a.color = b.color) AS n_violations
         FROM colored$rounds, (SELECT count(*) AS left_over FROM un$rounds) g
         WHERE g.left_over = 0
         GROUP BY color, g.left_over
         ORDER BY color"""
  }

  /** Staged densest-subgraph oracle: the labelprop backbone, `rounds`
    * unrolled integer peel rounds (survivor = deg * n > 3 * m, both
    * scalars from the round's own edge set), the history rows of every
    * non-empty round, the exact cross-multiplied argmax, and an
    * overrun guard (non-empty graph at round `rounds` empties the
    * select — loud red, never a silent partial peel). */
  private def densestSubOracle(rounds: Int): String = {
    def n(i: Int) =
      s"(SELECT count(*) FROM (SELECT u AS x FROM ds_e$i UNION SELECT v FROM ds_e$i))"
    def m(i: Int) = s"(SELECT count(*) FROM ds_e$i)"
    val sweeps = (0 until rounds).map { i =>
      s""",
         ds_s$i AS MATERIALIZED (
           SELECT x FROM (
             SELECT x, count(*) AS deg FROM (
               SELECT u AS x FROM ds_e$i UNION ALL SELECT v FROM ds_e$i)
             GROUP BY x)
           WHERE deg * ${n(i)} > 3 * ${m(i)}),
         ds_e${i + 1} AS MATERIALIZED (
           SELECT e.u, e.v FROM ds_e$i e
           JOIN ds_s$i a ON e.u = a.x JOIN ds_s$i b ON e.v = b.x)"""
    }.mkString
    val histRows = (0 until rounds).map { i =>
      s"SELECT $i AS round, ${n(i)} AS n_nodes, ${m(i)} AS n_edges"
    }.mkString("\n           UNION ALL ")
    s"""WITH po AS MATERIALIZED (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         ds_e0 AS MATERIALIZED (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)$sweeps,
         ds_h AS MATERIALIZED (
           SELECT round, n_nodes, n_edges FROM (
           $histRows)
           WHERE n_edges > 0),
         best AS (
           SELECT round AS best_round FROM ds_h h
           WHERE NOT EXISTS (
             SELECT 1 FROM ds_h o
             WHERE o.n_edges * h.n_nodes > h.n_edges * o.n_nodes
               OR (o.n_edges * h.n_nodes = h.n_edges * o.n_nodes
                   AND o.round < h.round)))
         SELECT h.round, CAST(h.n_nodes AS BIGINT) AS n_nodes,
           CAST(h.n_edges AS BIGINT) AS n_edges,
           CAST(1000000 * h.n_edges // h.n_nodes AS BIGINT) AS density_ppm,
           CASE WHEN h.round = best.best_round THEN 1 ELSE 0 END AS is_best
         FROM ds_h h, best
         WHERE ${m(rounds)} = 0
         ORDER BY h.round"""
  }

  /** Staged earliest-arrival oracle: `rounds` unrolled relaxations
    * (frontier hash join staged through tr_h so the time predicate is
    * a post-filter, min-merge), then one more relaxation whose change
    * count lands in tr_guard — overrun empties the final select. */
  private def temporalReachOracle(rounds: Int): String = {
    val relax =
      """CREATE OR REPLACE TEMP TABLE tr_h AS
         SELECT e.v, e.t, x.a FROM tr_e e JOIN tr_arr x ON x.node = e.u;
         CREATE OR REPLACE TEMP TABLE tr_upd AS
         SELECT v AS node, min(t) AS a FROM tr_h WHERE t >= a GROUP BY v;"""
    val round = relax +
      """
         CREATE OR REPLACE TEMP TABLE tr_arr2 AS
         SELECT node, min(a) AS a FROM (
           SELECT * FROM tr_arr UNION ALL SELECT * FROM tr_upd)
         GROUP BY node;
         CREATE OR REPLACE TEMP TABLE tr_arr AS SELECT * FROM tr_arr2;"""
    s"""CREATE OR REPLACE TEMP TABLE tr_e AS
        SELECT a.l_partkey AS u, b.l_partkey AS v,
          date_diff('day', TIMESTAMP '1992-01-01', b.l_shipdate) AS t
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
          AND b.l_linenumber = a.l_linenumber + 1
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2, 3;
        CREATE OR REPLACE TEMP TABLE tr_arr AS
        SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS a
        FROM tr_e WHERE u % 200 = 0;
        CREATE OR REPLACE TEMP TABLE tr_guard AS
        SELECT CAST(0 AS BIGINT) AS bad WHERE false;
        ${(1 to rounds).map(_ => round).mkString("\n")}
        $relax
        INSERT INTO tr_guard
        SELECT count(*) FROM tr_upd u LEFT JOIN tr_arr x ON x.node = u.node
        WHERE x.node IS NULL OR u.a < x.a;
        SELECT CAST(a // 365 AS BIGINT) AS yr,
          CAST(count(*) AS BIGINT) AS n_parts,
          CAST(min(a) AS BIGINT) AS first_day,
          CAST(max(a) AS BIGINT) AS last_day
        FROM tr_arr
        WHERE (SELECT coalesce(sum(bad), 0) FROM tr_guard) = 0
        GROUP BY 1 ORDER BY yr"""
  }

  /** Staged temp-table Boruvka oracle: `rounds` unrolled hook+contract
    * rounds (window-ranked min edge per component, mutual-pair root
    * resolution, `jumps` pointer-jump statements per round), with a
    * jump-flatness guard per round and a final cross-edges-remain
    * guard — any overrun empties the final select, never truncates. */
  private def boruvkaOracle(rounds: Int, jumps: Int): String = {
    val jump = (1 to jumps).map { _ =>
      """CREATE OR REPLACE TEMP TABLE bo_p2 AS
         SELECT x.c, coalesce(y.p, x.p) AS p
         FROM bo_p x LEFT JOIN bo_p y ON y.c = x.p;
         CREATE OR REPLACE TEMP TABLE bo_p AS SELECT * FROM bo_p2;"""
    }.mkString("\n")
    // the comp-space projection is STAGED through bo_h so the
    // inequality is only ever a post-filter: DuckDB's join-order
    // optimizer otherwise picks `bo_c x bo_c ON p.c <> q.c` as the
    // first join — a nested-loop over |nodes|^2 pairs that turns a
    // 34k-edge round into minutes at sf1
    val round =
      s"""CREATE OR REPLACE TEMP TABLE bo_h AS
          SELECT p.c AS ca, e.w, e.a, e.b
          FROM bo_e e JOIN bo_c p ON p.node = e.a;
          CREATE OR REPLACE TEMP TABLE bo_ce AS
          SELECT h.ca, q.c AS cb, h.w, h.a, h.b
          FROM bo_h h JOIN bo_c q ON q.node = h.b
          WHERE h.ca <> q.c;
          CREATE OR REPLACE TEMP TABLE bo_pick AS
          SELECT c, w, a, b, other FROM (
            SELECT *, row_number() OVER (PARTITION BY c
              ORDER BY w, a, b) AS rn
            FROM (SELECT ca AS c, cb AS other, w, a, b FROM bo_ce
                  UNION ALL SELECT cb, ca, w, a, b FROM bo_ce))
          WHERE rn = 1;
          INSERT INTO bo_msf SELECT DISTINCT a, b, w FROM bo_pick;
          CREATE OR REPLACE TEMP TABLE bo_p AS
          SELECT p.c, CASE WHEN q.other = p.c THEN least(p.c, p.other)
                           ELSE p.other END AS p
          FROM bo_pick p JOIN bo_pick q ON q.c = p.other;
          $jump
          INSERT INTO bo_guard
          SELECT count(*) FROM (
            SELECT x.p AS xp, y.p AS yp
            FROM bo_p x JOIN bo_p y ON y.c = x.p) z
          WHERE z.yp <> z.xp;
          CREATE OR REPLACE TEMP TABLE bo_c2 AS
          SELECT c0.node, coalesce(p.p, c0.c) AS c
          FROM bo_c c0 LEFT JOIN bo_p p ON p.c = c0.c;
          CREATE OR REPLACE TEMP TABLE bo_c AS SELECT * FROM bo_c2;"""
    s"""CREATE OR REPLACE TEMP TABLE bo_e AS
        SELECT CAST(l_partkey * 2 AS BIGINT) AS a,
          CAST(l_suppkey * 2 + 1 AS BIGINT) AS b,
          min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS w
        FROM lineitem
        WHERE l_quantity <= 2 AND l_suppkey % 7 = 0
        GROUP BY 1, 2;
        CREATE OR REPLACE TEMP TABLE bo_c AS
        SELECT a AS node, a AS c FROM bo_e
        UNION SELECT b, b FROM bo_e;
        CREATE OR REPLACE TEMP TABLE bo_msf AS
        SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b,
          CAST(NULL AS BIGINT) AS w WHERE false;
        CREATE OR REPLACE TEMP TABLE bo_guard AS
        SELECT CAST(0 AS BIGINT) AS bad WHERE false;
        ${(1 to rounds).map(_ => round).mkString("\n")}
        CREATE OR REPLACE TEMP TABLE bo_h AS
        SELECT p.c AS ca, e.b FROM bo_e e JOIN bo_c p ON p.node = e.a;
        INSERT INTO bo_guard
        SELECT count(*) FROM bo_h h JOIN bo_c q ON q.node = h.b
        WHERE h.ca <> q.c;
        CREATE OR REPLACE TEMP TABLE bo_tree AS
        SELECT node, min(node) OVER (PARTITION BY c) AS tree FROM bo_c;
        SELECT m.tree, m.n_nodes, e.n_edges, e.w_e2, e.w_min, e.w_max
        FROM (SELECT tree, CAST(count(*) AS BIGINT) AS n_nodes
              FROM bo_tree GROUP BY tree) m
        JOIN (SELECT t.tree, CAST(count(*) AS BIGINT) AS n_edges,
                CAST(sum(f.w) AS BIGINT) AS w_e2,
                CAST(min(f.w) AS BIGINT) AS w_min,
                CAST(max(f.w) AS BIGINT) AS w_max
              FROM bo_msf f JOIN bo_tree t ON t.node = f.a
              GROUP BY t.tree) e
          ON e.tree = m.tree
        WHERE (SELECT coalesce(sum(bad), 0) FROM bo_guard) = 0
        ORDER BY m.tree"""
  }

  /** Staged temp-table SCC oracle: FW-BW-Trim with MAX-label coloring
    * (deliberately the opposite label order from operators/Scc — the
    * unique-partition property is what the compare then proves), both
    * propagations path-halved via a two-step hop+jump per round, each
    * propagation followed by a one-more-hop fixpoint guard whose
    * violation count accumulates in scc_guard and empties the final
    * select. Generated so round counts are data-independent constants
    * with loud failure, never silent truncation. */
  private def sccOracle(peels: Int, trims: Int, propRounds: Int): String = {
    val restrictE =
      """CREATE OR REPLACE TEMP TABLE scc_e2 AS
         SELECT e.s, e.d FROM scc_e e
           JOIN scc_act x ON e.s = x.node
           JOIN scc_act y ON e.d = y.node;
         CREATE OR REPLACE TEMP TABLE scc_e AS SELECT * FROM scc_e2;"""
    val trim = (1 to trims).map { _ =>
      s"""CREATE OR REPLACE TEMP TABLE scc_keep AS
          SELECT node FROM (SELECT DISTINCT s AS node FROM scc_e)
          INTERSECT SELECT DISTINCT d FROM scc_e;
          INSERT INTO scc_res
          SELECT a.node, a.node FROM scc_act a
            LEFT JOIN scc_keep k ON a.node = k.node
          WHERE k.node IS NULL;
          CREATE OR REPLACE TEMP TABLE scc_act AS
          SELECT node FROM scc_keep;
          $restrictE"""
    }.mkString("\n")
    // one propagation round on (edge table et, label table lt): hop =
    // max over in-neighbors, jump = lbl(lbl) — two-step via _nxt since
    // CREATE OR REPLACE cannot read the table it replaces
    def propRound(et: String, lt: String) =
      s"""CREATE OR REPLACE TEMP TABLE ${lt}_nxt AS
          SELECT l.node, greatest(l.lbl, coalesce(m.mx, l.lbl)) AS lbl
          FROM $lt l LEFT JOIN (
            SELECT e.d AS node, max(p.lbl) AS mx
            FROM $et e JOIN $lt p ON p.node = e.s GROUP BY e.d) m
            ON m.node = l.node;
          CREATE OR REPLACE TEMP TABLE $lt AS
          SELECT l.node, greatest(l.lbl, coalesce(j.lbl, l.lbl)) AS lbl
          FROM ${lt}_nxt l LEFT JOIN ${lt}_nxt j ON j.node = l.lbl;"""
    def propGuard(et: String, lt: String) =
      s"""INSERT INTO scc_guard
          SELECT count(*) FROM (
            SELECT l.node, greatest(l.lbl, coalesce(m.mx, l.lbl)) AS nl
            FROM $lt l LEFT JOIN (
              SELECT e.d AS node, max(p.lbl) AS mx
              FROM $et e JOIN $lt p ON p.node = e.s GROUP BY e.d) m
              ON m.node = l.node) x
          JOIN $lt l2 ON x.node = l2.node AND x.nl <> l2.lbl;"""
    def prop(et: String, lt: String) =
      (1 to propRounds).map(_ => propRound(et, lt)).mkString("\n") +
        "\n" + propGuard(et, lt)
    val peel =
      s"""$restrictE
          $trim
          CREATE OR REPLACE TEMP TABLE scc_fwd AS
          SELECT node, node AS lbl FROM scc_act;
          ${prop("scc_e", "scc_fwd")}
          CREATE OR REPLACE TEMP TABLE scc_rev AS
          SELECT e.d AS s, e.s AS d
          FROM scc_e e
            JOIN scc_fwd a ON a.node = e.s
            JOIN scc_fwd b ON b.node = e.d
          WHERE a.lbl = b.lbl;
          CREATE OR REPLACE TEMP TABLE scc_bwd AS
          SELECT node, node AS lbl FROM scc_act;
          ${prop("scc_rev", "scc_bwd")}
          INSERT INTO scc_res
          SELECT f.node, f.lbl FROM scc_fwd f
            JOIN scc_bwd b ON b.node = f.node AND b.lbl = f.lbl;
          CREATE OR REPLACE TEMP TABLE scc_act AS
          SELECT f.node FROM scc_fwd f
            JOIN scc_bwd b ON b.node = f.node
          WHERE b.lbl <> f.lbl;"""
    s"""CREATE OR REPLACE TEMP TABLE scc_e AS
        SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS s,
          CAST(b.l_partkey AS BIGINT) AS d
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
          AND b.l_linenumber = a.l_linenumber + 1
        WHERE a.l_partkey <> b.l_partkey
          AND a.l_quantity <= 15 AND b.l_quantity <= 15;
        CREATE OR REPLACE TEMP TABLE scc_act AS
        SELECT DISTINCT s AS node FROM scc_e
        UNION SELECT DISTINCT d FROM scc_e;
        CREATE OR REPLACE TEMP TABLE scc_res AS
        SELECT CAST(NULL AS BIGINT) AS node, CAST(NULL AS BIGINT) AS lbl
        WHERE false;
        CREATE OR REPLACE TEMP TABLE scc_guard AS
        SELECT CAST(0 AS BIGINT) AS bad WHERE false;
        ${(1 to peels).map(_ => peel).mkString("\n")}
        INSERT INTO scc_guard SELECT count(*) FROM scc_act;
        SELECT CAST(node AS BIGINT) AS part, CAST(scc_id AS BIGINT) AS scc_id,
          CAST(count(*) OVER (PARTITION BY scc_id) AS BIGINT) AS scc_size
        FROM (SELECT node, min(node) OVER (PARTITION BY lbl) AS scc_id
              FROM scc_res)
        WHERE (SELECT coalesce(sum(bad), 0) FROM scc_guard) = 0
        ORDER BY part"""
  }

  /** Unrolled k-truss sweeps from a CTE named `e0` holding distinct
    * (u < v) edges: per sweep, wedge-join the symmetrized survivors on
    * the shared center, keep closed pairs with support >= k-2. */
  private def ktrussSweeps(k: Int, rounds: Int): String =
    (1 to rounds).map { i =>
      s""",
         sym$i AS MATERIALIZED (
           SELECT u AS a, v AS b FROM e${i - 1}
           UNION ALL SELECT v, u FROM e${i - 1}),
         e$i AS MATERIALIZED (
           SELECT s.u, s.v FROM (
             SELECT w.u, w.v, count(*) AS c
             FROM (SELECT x.b AS u, y.b AS v
                   FROM sym$i x JOIN sym$i y ON x.a = y.a AND x.b < y.b) w
             JOIN e${i - 1} t ON w.u = t.u AND w.v = t.v
             GROUP BY 1, 2) s
           WHERE s.c >= ${k - 2})"""
    }.mkString

  private def ktrussFinal(rounds: Int): String =
    s"""
         SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         GROUP BY 1 ORDER BY node"""

  private def ktrussOracle(k: Int, rounds: Int): String =
    """WITH po AS MATERIALIZED (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pr AS MATERIALIZED (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e0 AS MATERIALIZED (SELECT u, v FROM pr)""" +
      ktrussSweeps(k, rounds) + ktrussFinal(rounds)

  private def ktrussDeepOracle(k: Int, rounds: Int): String =
    """WITH ranked AS MATERIALIZED (
           SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) AS r
           FROM (SELECT p_partkey FROM part ORDER BY p_partkey LIMIT 25)),
         e0 AS MATERIALIZED (
           SELECT a.p_partkey AS u, b.p_partkey AS v
           FROM ranked a JOIN ranked b ON
                (a.r <= 10 AND b.r = a.r + 10)
             OR (a.r <= 9 AND b.r = a.r + 1)
             OR (a.r BETWEEN 11 AND 19 AND b.r = a.r + 1)
             OR (a.r <= 9 AND b.r = a.r + 11)
             OR (a.r >= 21 AND b.r > a.r AND b.r <= 25))""" +
      ktrussSweeps(k, rounds) + ktrussFinal(rounds)

  /** Oracle twin of g_random_walks: ranked adjacency + the walk steps
    * unrolled, choice arithmetic identical to
    * GraphAlgos.deterministicWalks (md5 first-12-hex rebuilt nibble by
    * nibble — DuckDB has no base-16 conv). */
  private def randomWalkOracle(steps: Int): String = {
    val (ctes, unionAll) = randomWalkCtes(steps)
    ctes + s"""
         SELECT start, step, cur AS node FROM ($unionAll)
         ORDER BY start, step"""
  }

  /** Oracle twin of g_walk_skipgrams: the walk chain, then window-2
    * skip-gram pair extraction as a per-start self-join on step
    * distance. */
  private def skipgramOracle(steps: Int, window: Int, topK: Int): String = {
    val (ctes, unionAll) = randomWalkCtes(steps)
    ctes + s""",
         wk AS (SELECT start, step, cur AS node FROM ($unionAll)),
         pairs AS (
           SELECT a.node AS center, b.node AS context
           FROM wk a JOIN wk b
             ON a.start = b.start AND a.step <> b.step
            AND abs(a.step - b.step) <= $window)
         SELECT rn, center, context, cnt FROM (
           SELECT *, row_number() OVER (
               ORDER BY cnt DESC, center, context) AS rn
           FROM (SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
                 FROM pairs GROUP BY 1, 2))
         WHERE rn <= $topK ORDER BY rn"""
  }

  /** Oracle twin of g_negative_samples: walk chain + vocabulary CDF on
    * e6-integer sqrt(sqrt(f^3)) weights + 16-bit md5 draws mapped with
    * (u16 * total) // 65536 — the identical integer recurrence (DuckDB
    * rebuilds the 16-bit value nibble by nibble, no base-16 conv). */
  private def negativeSampleOracle(steps: Int, window: Int, k: Int,
      topK: Int): String = {
    val (ctes, unionAll) = randomWalkCtes(steps)
    val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
    val u16 = (1 to 4).map(i => s"${nib(i)} * ${1L << (4 * (4 - i))}")
      .mkString("(", " + ", ")")
    ctes + s""",
         wk AS MATERIALIZED (SELECT start, step, cur AS node FROM ($unionAll)),
         vocab AS MATERIALIZED (
           SELECT node, CAST(count(*) AS BIGINT) AS f,
             CAST(floor(sqrt(sqrt(CAST(count(*) * count(*) * count(*)
               AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS wi
           FROM wk GROUP BY 1),
         cdf AS MATERIALIZED (
           SELECT node, wi,
             sum(wi) OVER (ORDER BY node ROWS UNBOUNDED PRECEDING) AS cum_hi,
             sum(wi) OVER (ORDER BY node ROWS UNBOUNDED PRECEDING) - wi AS cum_lo
           FROM vocab),
         tot AS (SELECT CAST(sum(wi) AS BIGINT) AS tot FROM vocab),
         draws AS MATERIALIZED (
           SELECT context, CAST(($u16 * tot) // 65536 AS BIGINT) AS target
           FROM (
             SELECT p.context, t.tot,
               md5(CAST(p.start AS VARCHAR) || ':' || CAST(p.sa AS VARCHAR)
                 || ':' || CAST(p.sb AS VARCHAR) || ':'
                 || CAST(js.j AS VARCHAR)) AS h
             FROM (SELECT a.start, a.step AS sa, b.step AS sb,
                     a.node AS center, b.node AS context
                   FROM wk a JOIN wk b ON a.start = b.start
                     AND a.step <> b.step
                     AND abs(a.step - b.step) <= $window) p,
               tot t,
               (SELECT unnest(range(1, ${k + 1})) AS j) js)),
         neg AS (
           SELECT c.node AS neg, c.wi, d.context
           FROM draws d JOIN cdf c
             ON d.target >= c.cum_lo AND d.target < c.cum_hi)
         SELECT rn, neg, wi, n_draws, n_collisions FROM (
           SELECT *, row_number() OVER (ORDER BY n_draws DESC, neg) AS rn
           FROM (SELECT neg, wi, CAST(count(*) AS BIGINT) AS n_draws,
                   CAST(sum(CASE WHEN neg = context THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_collisions
                 FROM neg GROUP BY 1, 2))
         WHERE rn <= $topK ORDER BY rn"""
  }

  /** Oracle twin of g_walk_centrality: walk chain + integer visit
    * counts, top-k. */
  private def walkCentralityOracle(steps: Int, startsLimit: Int, topK: Int): String = {
    val (ctes, unionAll) = randomWalkCtes(steps, startsLimit)
    ctes + s"""
         SELECT rn, node, visits, n_walks FROM (
           SELECT *, row_number() OVER (ORDER BY visits DESC, node) AS rn
           FROM (SELECT cur AS node, CAST(count(*) AS BIGINT) AS visits,
                   CAST(count(DISTINCT start) AS BIGINT) AS n_walks
                 FROM ($unionAll) GROUP BY 1))
         WHERE rn <= $topK ORDER BY rn"""
  }

  private def randomWalkCtes(steps: Int, startsLimit: Int = 25): (String, String) = {
    val nib = (i: Int) => s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1)"
    val h48 = (1 to 12).map(i => s"${nib(i)} * ${1L << (4 * (12 - i))}")
      .mkString("(", " + ", ")")
    val head =
      s"""WITH po AS MATERIALIZED (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pr AS MATERIALIZED (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e0 AS MATERIALIZED (
           SELECT u AS s, v AS d FROM pr UNION ALL SELECT v, u FROM pr),
         adjr AS MATERIALIZED (
           SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) AS rn,
             count(*) OVER (PARTITION BY s) AS deg
           FROM e0),
         starts AS MATERIALIZED (
           SELECT s AS start FROM (SELECT DISTINCT s FROM e0 ORDER BY s LIMIT $startsLimit)),
         w0 AS (SELECT start, start AS cur, 0 AS step FROM starts)"""
    val walks = (1 to steps).map { tt =>
      s""",
         c$tt AS (
           SELECT start, cur, deg, CAST($h48 AS BIGINT) AS hv FROM (
             SELECT w.start, w.cur, g.deg,
               md5(CAST(w.cur AS VARCHAR) || ':' || '$tt' || ':'
                 || CAST(w.start AS VARCHAR)) AS h
             FROM w${tt - 1} w
             JOIN (SELECT DISTINCT s, deg FROM adjr) g ON g.s = w.cur)),
         w$tt AS (
           SELECT c.start, a.d AS cur, $tt AS step
           FROM c$tt c JOIN adjr a
             ON a.s = c.cur AND a.rn = 1 + (c.hv % c.deg))"""
    }.mkString
    val unionAll = (0 to steps).map(i => s"SELECT * FROM w$i").mkString(" UNION ALL ")
    (head + walks, unionAll)
  }

  /** Shared CTE chain of the label-propagation oracles: the sparsified
    * co-occurrence graph (pr/e0) + `rounds` unrolled synchronized
    * sweeps; per round, each node's new label = argmax (count desc,
    * label asc) over neighbor labels. Ends at CTE `l{rounds}`. */
  private def labelPropCtes(rounds: Int): String = {
    val head =
      """WITH po AS MATERIALIZED (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pr AS MATERIALIZED (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e0 AS MATERIALIZED (
           SELECT u AS s, v AS d FROM pr UNION ALL SELECT v, u FROM pr),
         l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS lbl FROM e0)"""
    val sweeps = (1 to rounds).map { i =>
      s""",
         l$i AS MATERIALIZED (
           SELECT node, lbl FROM (
             SELECT e.s AS node, l.lbl, row_number() OVER (
                 PARTITION BY e.s ORDER BY count(*) DESC, l.lbl) AS rn
             FROM e0 e JOIN l${i - 1} l ON e.d = l.node
             GROUP BY e.s, l.lbl)
           WHERE rn = 1)"""
    }.mkString
    head + sweeps
  }

  private def labelPropOracle(rounds: Int): String =
    labelPropCtes(rounds) + s"""
         SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
         FROM l$rounds GROUP BY 1 ORDER BY community"""

  /** Oracle twin of g_modularity: the labelprop chain, then the exact
    * integer Newman-Q accounting over its final labels (see
    * GraphAlgos.modularityByCommunity for the rational form). */
  private def modularityOracle(rounds: Int): String =
    labelPropCtes(rounds) + s""",
         m AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM pr),
         deg AS MATERIALIZED (
           SELECT s AS node, CAST(count(*) AS BIGINT) AS deg
           FROM e0 GROUP BY s),
         cs AS (
           SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg.deg) AS BIGINT) AS deg_sum
           FROM l$rounds l JOIN deg ON l.node = deg.node GROUP BY 1),
         ie AS (
           SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS intra_edges
           FROM pr JOIN l$rounds la ON pr.u = la.node
             JOIN l$rounds lb ON pr.v = lb.node
           WHERE la.lbl = lb.lbl GROUP BY 1)
         SELECT cs.community, cs.n_nodes,
           CAST(coalesce(ie.intra_edges, 0) AS BIGINT) AS intra_edges,
           cs.deg_sum,
           CAST(4 * m.m * coalesce(ie.intra_edges, 0)
                - cs.deg_sum * cs.deg_sum AS BIGINT) AS contrib_num,
           CAST(4 * m.m * m.m AS BIGINT) AS denom
         FROM cs LEFT JOIN ie ON cs.community = ie.community
         CROSS JOIN m
         ORDER BY cs.community"""

  /** Unrolled peel sweeps shared by the k-core oracles: each sweep is a
    * HAVING-filtered degree table + an edge restriction to survivors,
    * starting from a CTE named `e0`. Unrolling MORE sweeps than the
    * fixpoint depth is safe — once no node drops, k_i = nodes(e_{i-1})
    * and e_i = e_{i-1}. */
  private def kcoreSweeps(k: Int, rounds: Int): String =
    (1 to rounds).map { i =>
      s""",
         k$i AS MATERIALIZED (
           SELECT s FROM e${i - 1} GROUP BY s HAVING count(*) >= $k),
         e$i AS MATERIALIZED (
           SELECT e.s, e.d FROM e${i - 1} e
           JOIN k$i a ON e.s = a.s JOIN k$i b ON e.d = b.s)"""
    }.mkString

  /** Generated unrolled HyperBall oracle: the operator's register
    * iteration as a CTE chain. Register derivation mirrors
    * GraphAlgos.neighborhoodFunction bit for bit — md5 hex parsed with
    * the x_weighted_sample strpos pattern, the leading-zero CASE is the
    * SAME generated text (GraphAlgos.lz32CaseSql), 2^-rho terms are
    * 1.0/(1<<rho), and per-node estimates floor to e3 micro-ints before
    * the integer per-hop sum. */
  private def neighborhoodOracle(hops: Int): String = {
    val (ctes, unionAll) = neighborhoodParts(hops)
    ctes + s"""
      SELECT h, CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(CAST(floor(est * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_est_e3
      FROM ($unionAll) GROUP BY h ORDER BY h"""
  }

  /** Oracle twin of g_eff_diameter: the HyperBall chain's per-hop e3
    * sums, then the pure-BIGINT 90%-reach test over the per-hop frame. */
  private def effDiameterOracle(hops: Int): String = {
    val (ctes, unionAll) = neighborhoodParts(hops)
    ctes + s""",
      nf AS MATERIALIZED (
        SELECT h, CAST(sum(CAST(floor(est * 1000 + 0.5) AS BIGINT)) AS BIGINT)
            AS sum_est_e3
        FROM ($unionAll) GROUP BY h),
      lastnf AS (SELECT sum_est_e3 AS nmax FROM nf WHERE h = $hops),
      eff AS (SELECT CAST(min(h) AS BIGINT) AS eff_diameter
              FROM nf CROSS JOIN lastnf WHERE 10 * sum_est_e3 >= 9 * nmax)
      SELECT h, sum_est_e3,
        CAST((1000000 * sum_est_e3) // nmax AS BIGINT) AS reach_ppm,
        eff_diameter
      FROM nf CROSS JOIN lastnf CROSS JOIN eff ORDER BY h"""
  }

  /** Oracle twin of g_harmonic_hyperball: the HyperBall chain's
    * per-node e3 ball estimates pivoted by hop, then the integer
    * harmonic weighting (6/h multipliers for h = 1..3) and a top-20. */
  private def harmonicOracle(hops: Int): String = {
    require(hops == 3, "harmonic readout is written for hops = 3")
    val (ctes, unionAll) = neighborhoodParts(hops)
    ctes + s""",
      pe AS MATERIALIZED (
        SELECT h, node, CAST(floor(est * 1000 + 0.5) AS BIGINT) AS e3
        FROM ($unionAll)),
      pv AS (
        SELECT node,
          max(CASE WHEN h = 0 THEN e3 END) AS b0,
          max(CASE WHEN h = 1 THEN e3 END) AS b1,
          max(CASE WHEN h = 2 THEN e3 END) AS b2,
          max(CASE WHEN h = 3 THEN e3 END) AS b3
        FROM pe GROUP BY node)
      SELECT node,
        CAST((b1 - b0) * 6 + (b2 - b1) * 3 + (b3 - b2) * 2 AS BIGINT)
          AS harm_e3x6,
        b3 AS ball3_e3
      FROM pv ORDER BY harm_e3x6 DESC, node LIMIT 20"""
  }

  /** The shared HyperBall CTE chain: (ctes ending at e0..e{hops},
    * union-all text over them). */
  private def neighborhoodParts(hops: Int): (String, String) = {
    val lz = GraphAlgos.lz32CaseSql("w")
    val hx = "strpos('0123456789abcdef', substring(h, %d, 1)) - 1"
    val wTerms = (2 to 9).zipWithIndex.map { case (pos, i) =>
      s"(${hx.format(pos)}) * ${1L << (4 * (7 - i))}.0"
    }.mkString(" + ")
    val head = s"""WITH pr AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      sym AS MATERIALIZED (SELECT u AS s, v AS d FROM pr UNION SELECT v, u FROM pr),
      s0 AS MATERIALIZED (
        SELECT node, CAST(${hx.format(1)} AS INT) AS idx, 1 + ($lz) AS rho
        FROM (SELECT node, h, CAST($wTerms AS BIGINT) AS w
              FROM (SELECT node, md5(CAST(node AS VARCHAR)) AS h
                    FROM (SELECT DISTINCT s AS node FROM sym))))"""
    val sweeps = (1 to hops).map { i =>
      s""",
      s$i AS MATERIALIZED (
        SELECT node, idx, max(rho) AS rho FROM (
          SELECT * FROM s${i - 1}
          UNION ALL
          SELECT sym.s AS node, p.idx, p.rho
          FROM s${i - 1} p JOIN sym ON p.node = sym.d)
        GROUP BY node, idx)"""
    }.mkString
    val ests = (0 to hops).map { i =>
      s""",
      e$i AS MATERIALIZED (
        SELECT $i AS h, node,
          CASE WHEN (16 - count(*)) > 0
                AND 172.288 / (sum(1.0 / CAST(1::BIGINT << rho AS DOUBLE))
                               + (16 - count(*))::DOUBLE) <= 40.0
               THEN 16.0 * ln(16.0 / (16 - count(*)))
               ELSE 172.288 / (sum(1.0 / CAST(1::BIGINT << rho AS DOUBLE))
                               + (16 - count(*))::DOUBLE)
          END AS est
        FROM s$i GROUP BY node)"""
    }.mkString
    val unionAll = (0 to hops).map(i => s"SELECT * FROM e$i").mkString(" UNION ALL ")
    (head + sweeps + ests, unionAll)
  }

  /** Generated unrolled k-core oracle over the part co-occurrence
    * graph. `rounds` must be >= the peel cascade's fixpoint depth. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val head =
      """WITH pr AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e0 AS MATERIALIZED (
           SELECT u AS s, v AS d FROM pr UNION ALL SELECT v, u FROM pr)"""
    head + kcoreSweeps(k, rounds) + s"""
         SELECT s AS node, CAST(count(*) AS BIGINT) AS deg
         FROM e$rounds GROUP BY s ORDER BY node"""
  }

  /** Oracle twin of g_kcore_deep's constructed clique+chain graph:
    * same 20 ranked part keys, same clique (ranks 1..8) and chain
    * (rank r -> r+1 for r >= 8) edges, k=2 sweeps unrolled past the
    * 13-sweep fixpoint. */
  private def kcoreDeepOracle(rounds: Int): String = {
    val head =
      """WITH ranked AS MATERIALIZED (
           SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) AS r
           FROM (SELECT p_partkey FROM part ORDER BY p_partkey LIMIT 20)),
         und AS MATERIALIZED (
           SELECT a.p_partkey AS u, b.p_partkey AS v
           FROM ranked a JOIN ranked b ON a.r < b.r AND b.r <= 8
           UNION ALL
           SELECT a.p_partkey, b.p_partkey
           FROM ranked a JOIN ranked b ON b.r = a.r + 1 AND a.r >= 8),
         e0 AS MATERIALIZED (
           SELECT u AS s, v AS d FROM und UNION ALL SELECT v, u FROM und)"""
    head + kcoreSweeps(k = 2, rounds) + s"""
         SELECT s AS node, CAST(count(*) AS BIGINT) AS deg
         FROM e$rounds GROUP BY s ORDER BY node"""
  }
}
