package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{GraphAlgos, LocalGate}

/** Graph analytics on hand-checkable graphs: PageRank fixed points with
  * known closed forms, triangle counts on named shapes, BFS distances
  * on a path — plus the dangling-mass and orientation edge cases that
  * distinguish a correct implementation from a plausible one.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Seeded random multigraphs (2-12 nodes, 1-30 edges, self-loops and
    * duplicates allowed — the operators must handle both). Seeded so a
    * property failure replays deterministically (round-7 advice: the
    * previous unseeded `Gen.sample.get` draws were unreproducible and
    * could throw on a failed sample). */
  private def randomGraphs(seed: Long, count: Int): Seq[Seq[(Long, Long)]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(count) {
      val n = 2 + rnd.nextInt(11)
      val m = 1 + rnd.nextInt(30)
      Seq.fill(m)((1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
    }
  }

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 30): Map[Long, Double] =
    GraphAlgos.pageRank(
      edges.toDF("src", "dst").withColumn("weight", lit(1.0)), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pageRank: symmetric cycle converges to uniform") {
    // On a directed cycle every node has one in/out edge: rank stays 1/N.
    val r = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L)), iters = 5)
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("pageRank: star graph concentrates rank at the hub") {
    // 3 spokes -> hub; hub dangles, its mass redistributes uniformly.
    // Closed-form fixed point with d=0.85, N=4:
    //   spoke s = (1-d)/N + d*h/N ; hub h = (1-d)/N + d*(3s + h/N)
    // Analytic fixpoint: s = 0.0375 + 0.2125*h, h = 1 - 3s (mass sums
    // to 1) -> s = 0.25/1.6375, h = 1 - 3s. 60 iterations contract the
    // initial error by 0.85^60 ~ 6e-6.
    val sStar = 0.25 / 1.6375
    val hStar = 1.0 - 3 * sStar
    val r = ranks(Seq((1L, 4L), (2L, 4L), (3L, 4L)), iters = 60)
    assert(math.abs(r(1L) - sStar) < 1e-4)
    assert(math.abs(r(4L) - hStar) < 1e-4)
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // dangling mass conserved
    assert(r(1L) == r(2L) && r(2L) == r(3L))
  }

  test("pageRank: weights steer the split; local and distributed paths agree") {
    // 1 -> 2 (w=3), 1 -> 3 (w=1): node 2 gets 3/4 of node 1's mass.
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0)).toDF("src", "dst", "weight")
    val r = GraphAlgos.pageRank(edges, iters = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // localThreshold = 0 forces the iterative distributed loop; same
    // arithmetic, same schema, values equal to float-noise precision.
    val dist = GraphAlgos.pageRank(edges, iters = 1, localThreshold = 0)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(dist.keySet == r.keySet)
    r.foreach { case (k, v) => assert(math.abs(dist(k) - v) < 1e-12) }
    // After one iteration from uniform 1/3: dangling nodes 2,3 hold
    // mass 2/3, redistributed as (2/3)/N = 2/9 to every node.
    val base = 0.15 / 3 + 0.85 * (2.0 / 9)
    assert(math.abs(r(2L) - (base + 0.85 * (1.0 / 3 * 0.75))) < 1e-12)
    assert(math.abs(r(3L) - (base + 0.85 * (1.0 / 3 * 0.25))) < 1e-12)
    assert(math.abs(r(1L) - base) < 1e-12)
  }

  test("personalizedPageRank: mass concentrates around the source") {
    // path 1 -> 2 -> 3 -> 4 with restart at 1: rank decays along the
    // path geometrically; closed form r(k+1) = d * r(k) for k >= 1 with
    // all dangling/teleport mass returning to node 1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    val r = GraphAlgos.personalizedPageRank(edges, 1L, iters = 80)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // teleport conserves mass
    assert(r(1L) > r(2L) && r(2L) > r(3L) && r(3L) > r(4L))
    // every hop multiplies by exactly d (single out-edge, no other inflow)
    assert(math.abs(r(3L) / r(2L) - 0.85) < 1e-6)
    assert(math.abs(r(4L) / r(3L) - 0.85) < 1e-6)
    // a node the source cannot reach gets rank 0 under personalization
    val twoIslands = Seq((1L, 2L), (8L, 9L)).toDF("src", "dst")
      .withColumn("weight", lit(1.0))
    val ri = GraphAlgos.personalizedPageRank(twoIslands, 1L, iters = 30)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(ri(8L) == 0.0 && ri(9L) == 0.0)
    assert(math.abs(ri.values.sum - 1.0) < 1e-12)
    // local and distributed paths agree for the personalized variant too
    val dist = GraphAlgos.personalizedPageRank(twoIslands, 1L, iters = 30,
      localThreshold = 0)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    ri.foreach { case (k, v) => assert(math.abs(dist(k) - v) < 1e-12) }
  }

  test("trianglesPerNode: counts K4 and ignores dangling paths") {
    // K4 has 4 triangles; every node is in exactly 3. Node 5 hangs off
    // node 1 and closes nothing. Reversed duplicate edges must not
    // double-count.
    val k4 = for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a.toLong, b.toLong)
    val edges = (k4 ++ Seq((5L, 1L), (1L, 5L), (2L, 1L))).toDF("u", "v")
    val got = GraphAlgos.trianglesPerNode(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("trianglesPerNode: two triangles sharing an edge") {
    // (1,2,3) and (2,3,4): shared edge 2-3 -> nodes 2,3 count 2.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val got = GraphAlgos.trianglesPerNode(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("shortestPaths: weighted relaxation beats the greedy hop, hop bound binds") {
    // 1 -> 2 costs 10 direct, but 1 -> 3 -> 2 costs 1 + 2 = 3; with a
    // hop bound of 1 only the direct edge is allowed.
    val edges = Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 2L, 2.0), (2L, 4L, 1.0))
      .toDF("s", "d", "w")
    val got = GraphAlgos.shortestPaths(edges, 1L, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 3.0, 3L -> 1.0, 4L -> 4.0))
    val oneHop = GraphAlgos.shortestPaths(edges, 1L, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(oneHop == Map(1L -> 0.0, 2L -> 10.0, 3L -> 1.0))
    // unit weights reduce to BFS hop counts (same graphs as the BFS
    // property would use)
    val unit = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
      .withColumn("w", lit(1.0))
    val sym = unit.unionByName(
      unit.select(col("d").as("s"), col("s").as("d"), col("w")))
    val wd = GraphAlgos.shortestPaths(sym, 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bf = GraphAlgos.bfsHops(unit, 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toDouble).toMap
    assert(wd == bf)
  }

  test("bfsHops: path graph distances, hop bound, unreachable absent") {
    // 1-2-3-4-5 plus isolated component 8-9; from 1 with maxHops=3 the
    // result is exactly {1:0, 2:1, 3:2, 4:3} — 5 is beyond the bound,
    // 8/9 unreachable, and hops is the MINIMUM over the diamond 1-2,
    // 1-3 below.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L)).toDF("s", "d")
    val got = GraphAlgos.bfsHops(edges, 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // diamond: two routes to 4 -> still hop 2 via either middle node
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("s", "d")
    val d2 = GraphAlgos.bfsHops(diamond, 1L, maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d2 == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("property: triangles and BFS match brute force on random graphs") {
    // One Spark job per sampled graph is expensive; a handful of random
    // graphs across densities still kills the classic bugs (orientation
    // ties, duplicate edges, disconnected pieces) that fixed fixtures
    // miss.
    val rnd = new scala.util.Random(42)
    val samples = randomGraphs(seed = 101, count = 6)
    for (es <- samples) {
      val und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      // brute-force triangles: every 3-subset of nodes with all edges
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val naive = (for {
        Seq(a, b, c) <- nodes.combinations(3)
        if und((a, b)) && und((a, c)) && und((b, c))
      } yield Seq(a, b, c)).toSeq.flatten
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val got = GraphAlgos.trianglesPerNode(es.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive, s"triangles diverged on $und")
      // brute-force BFS from a random present node
      if (und.nonEmpty) {
        val adj = und.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val src = nodes(rnd.nextInt(nodes.size))
        val maxHops = 3
        var dist = Map(src -> 0)
        var frontier = Set(src)
        for (h <- 1 to maxHops) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
          dist ++= frontier.map(_ -> h)
        }
        // both sides of the driver-twin gate
        for (t <- Seq(LocalGate.DefaultRows, 0L)) {
          val gotBfs = GraphAlgos.bfsHops(es.toDF("s", "d"), src, maxHops,
              localThreshold = t)
            .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
          assert(gotBfs == dist, s"bfs (localThreshold=$t) diverged on $und from $src")
        }
      }
    }
  }

  /** Same rows (as a multiset) and the same schema, nullability included. */
  private def assertSameRows(on: DataFrame, off: DataFrame, what: String): Unit = {
    assert(on.schema == off.schema, s"$what: schema ${on.schema} vs ${off.schema}")
    def bag(df: DataFrame) = df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(bag(on) == bag(off), s"$what: rows differ")
  }

  /** PageRank sums per node in a different order on each path, so ranks
    * agree to float noise; nodes and schema must match exactly. */
  private def assertSameRanks(on: DataFrame, off: DataFrame, what: String): Unit = {
    assert(on.schema == off.schema, s"$what: schema ${on.schema} vs ${off.schema}")
    val a = on.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val b = off.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet, s"$what: node sets differ")
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"$what: rank of $k") }
  }

  /** Every gated operator on one weighted graph `(a, b, w)`, default gate
    * against `localThreshold = 0` (the distributed loops). */
  private def assertGateInvariant(weighted: DataFrame, src: Any, absent: Any,
      what: String): Unit = {
    val und = weighted.select(col("a").as("s"), col("b").as("d"))
    val sp = weighted.select(col("a").as("s"), col("b").as("d"), col("w"))
    val pr = weighted.select(col("a").as("src"), col("b").as("dst"), col("w").as("weight"))
    // a duplicated seed and one absent from the graph
    val seeds = Seq(src, src, absent)
      .map(LocalGate.literalNode(spark, _, und.schema("s").dataType)).reduce(_ union _)
    def both(name: String, run: Long => DataFrame): Unit =
      assertSameRows(run(LocalGate.DefaultRows), run(0L), s"$what $name")
    both("bfsHops", t => GraphAlgos.bfsHops(und, src, 3, localThreshold = t))
    both("bfsHops maxHops=0", t => GraphAlgos.bfsHops(und, src, 0, localThreshold = t))
    both("bfsHopsFrom", t => GraphAlgos.bfsHopsFrom(und, seeds, 2, localThreshold = t))
    both("bfsHopsFrom min seed", t => GraphAlgos.bfsHopsFrom(und,
      und.agg(min("s").as("node")), 3, localThreshold = t))
    both("shortestPaths", t => GraphAlgos.shortestPaths(sp, src, 3, localThreshold = t))
    both("shortestPaths maxHops=0", t =>
      GraphAlgos.shortestPaths(sp, src, 0, localThreshold = t))
    both("shortestPathsFrom", t =>
      GraphAlgos.shortestPathsFrom(sp, seeds, 2, localThreshold = t))
    both("shortestPathsFrom min seed", t => GraphAlgos.shortestPathsFrom(sp,
      sp.agg(min("s").as("node")), 4, localThreshold = t))
    def ranks(name: String, run: Long => DataFrame): Unit =
      assertSameRanks(run(LocalGate.DefaultRows), run(0L), s"$what $name")
    ranks("pageRank", t => GraphAlgos.pageRank(pr, iters = 5, localThreshold = t))
    ranks("personalizedPageRank", t =>
      GraphAlgos.personalizedPageRank(pr, src, iters = 5, localThreshold = t))
    ranks("personalizedPageRankMinSource", t =>
      GraphAlgos.personalizedPageRankMinSource(pr, iters = 5, localThreshold = t))
  }

  test("driver twins: gate on and gate off give the same rows and schema") {
    // random multigraphs with self-loops, duplicates and inexact 1/k weights
    val rnd = new scala.util.Random(7)
    for ((es, i) <- randomGraphs(seed = 303, count = 3).zipWithIndex) {
      val weighted = es.map { case (a, b) => (a, b, 1.0 / (1 + rnd.nextInt(5))) }
        .toDF("a", "b", "w")
      assertGateInvariant(weighted, es.head._1, 99L, s"random graph $i")
    }
    // integral (LongType) weights, as g_pagerank_trade passes them
    val integral = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 5L),
      (4L, 4L, 1L), (1L, 2L, 2L)).toDF("a", "b", "w")
    assertGateInvariant(integral, 1L, 99L, "integral weights")
    // nullable string ids
    val strings = Seq(("p", "q", 0.5), ("q", "r", 0.25), ("r", "p", 2.0),
      ("s", "q", 1.0), ("r", "t", 1.0 / 3)).toDF("a", "b", "w")
    assertGateInvariant(strings, "q", "zz", "string ids")
  }

  test("driver twins: the min source follows Spark's ordering; absent sources fail alike") {
    // U+FFFF sorts before U+1F600 and U+1F601 in UTF-8 bytes (Spark's
    // order) but after both in UTF-16 code units (String.compareTo)
    val (bmp, astral, astral2) = ("\uFFFF", "\uD83D\uDE00", "\uD83D\uDE01")
    val edges = Seq((bmp, astral, 1.0), (astral, bmp, 2.0), (astral, astral2, 1.0))
      .toDF("src", "dst", "weight")
    def m(df: DataFrame): Map[Any, Double] =
      df.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val explicit = m(GraphAlgos.personalizedPageRank(edges, bmp, iters = 5))
    for (t <- Seq(LocalGate.DefaultRows, 0L)) {
      val got = m(GraphAlgos.personalizedPageRankMinSource(edges, iters = 5,
        localThreshold = t))
      assert(got.keySet == explicit.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - explicit(k)) < 1e-12, s"$k at $t") }
      val e = intercept[IllegalArgumentException](
        GraphAlgos.personalizedPageRank(edges, "absent", iters = 5, localThreshold = t))
      assert(e.getMessage.contains(
        "personalizedPageRank: source absent has no edges in the graph"), e.getMessage)
    }
  }

  test("property: hop-bounded weighted distances match brute force on both paths") {
    // Brute force: for each exact hop count k <= maxHops, the cheapest
    // walk of exactly k edges (summed left to right), then the min over
    // k. No frontier, no improvement test — only the hop layering.
    def brute(we: Seq[(Long, Long, Double)], src: Long, maxHops: Int): Map[Long, Double] = {
      var layer = Map(src -> 0.0)
      var best = layer
      for (_ <- 1 to maxHops) {
        layer = (for ((u, c) <- layer.toSeq; (a, b, w) <- we if a == u) yield b -> (c + w))
          .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).min }
        layer.foreach { case (v, c) => if (best.get(v).forall(c < _)) best += v -> c }
      }
      best
    }
    def check(we: Seq[(Long, Long, Double)], src: Long, maxHops: Int): Unit = {
      val want = brute(we, src, maxHops)
      for (t <- Seq(LocalGate.DefaultRows, 0L)) {
        val got = GraphAlgos.shortestPaths(we.toDF("s", "d", "w"), src, maxHops,
            localThreshold = t)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got == want, s"maxHops=$maxHops localThreshold=$t on $we")
      }
    }
    // hand case: the cheap route 1-3-4-2 needs 3 hops, the direct edge 1
    val chain = Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 4L, 1.0), (4L, 2L, 1.0))
    assert(brute(chain, 1L, 2)(2L) == 10.0 && brute(chain, 1L, 3)(2L) == 3.0)
    check(chain, 1L, 2)
    check(chain, 1L, 3)
    // Jacobi trap: 2 and 3 both enter round 2's frontier and 2 -> 3
    // lowers 3 within that round; relaxing in place would then carry
    // the 3-hop 1-2-3-4 (cost 3) into a 2-hop answer. The mirrored
    // gadget 5/6/7 lists the lowered node first, so either frontier
    // order springs one of them.
    val trap = Seq((1L, 2L, 1.0), (1L, 3L, 10.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (1L, 6L, 10.0), (1L, 5L, 1.0), (5L, 6L, 1.0), (6L, 7L, 1.0))
    assert(brute(trap, 1L, 2)(4L) == 11.0 && brute(trap, 1L, 2)(7L) == 11.0)
    check(trap, 1L, 2)
    val rnd = new scala.util.Random(11)
    var binds = 0
    for (es <- randomGraphs(seed = 404, count = 4)) {
      val we = es.map { case (a, b) => (a, b, 1.0 / (1 + rnd.nextInt(5))) }
      val src = es.head._1
      if (brute(we, src, 2) != brute(we, src, 12)) binds += 1
      check(we, src, 2)
    }
    assert(binds > 0, "no random sample where the hop bound binds")
  }

  test("kCore: clique survives peeling, tendrils and bridges peel away") {
    // K5 (every node degree 4) + a 3-node chain hanging off node 1:
    // at k=3 the chain peels in two sweeps (endpoints first, then the
    // newly-exposed middle), the clique is untouched.
    val k5 = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSeq
    val chain = Seq((1L, 6L), (6L, 7L), (7L, 8L))
    val core = GraphAlgos.kCore((k5 ++ chain).toDF("u", "v"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == (1L to 5L).map(_ -> 4L).toMap)
    // k above the clique degree empties the graph entirely
    assert(GraphAlgos.kCore((k5 ++ chain).toDF("u", "v"), k = 5).count() == 0)
  }

  test("kCore: deep peel cascade (chain off a clique) runs to the true fixpoint") {
    // K5 + a 12-node chain hanging off node 1. At k=2 only the chain's
    // current free end has degree < 2, so each sweep peels exactly ONE
    // node: the fixpoint is 12 effective sweeps away — deeper than the
    // fixed 8-round loop this operator had before round 8, which would
    // have returned four chain remnants that are NOT in the 2-core.
    val k5 = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSeq
    val chain = (6L to 17L).map(i => (if (i == 6L) 1L else i - 1, i))
    val core = GraphAlgos.kCore((k5 ++ chain).toDF("u", "v"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == (1L to 5L).map(_ -> 4L).toMap,
      s"chain remnants survived: $core")
    // maxRounds is a safety valve, not semantics: an under-budgeted run
    // returns the partially-peeled graph (documented), never throws
    val partial = GraphAlgos.kCore((k5 ++ chain).toDF("u", "v"), k = 2,
      maxRounds = 3)
      .collect().map(r => r.getLong(0)).toSet
    assert(partial.size > 5 && (1L to 5L).forall(partial))
  }

  test("property: kCore matches local peeling to fixed point on random graphs") {
    val samples = randomGraphs(seed = 202, count = 5)
    for (es <- samples; k <- Seq(2, 3)) {
      // local peeling to the true fixed point
      var und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      var changed = true
      while (changed) {
        val deg = und.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val next = und.filter(e => keep(e._1) && keep(e._2))
        changed = next != und
        und = next
      }
      val naive = und.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, v) => n -> v.size.toLong }
      // the operator's early-exit loop must land on the same fixed point
      val got = GraphAlgos.kCore(es.toDF("u", "v"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive, s"kCore diverged at k=$k on $es")
    }
  }

  test("in-plan source variants are row-identical to explicit-source ones") {
    // Round-7 verdict #3: the catalog derives sources/thresholds inside
    // the plan now; these folds must be pure plumbing, not semantics.
    val edges = Seq((3L, 5L), (5L, 7L), (7L, 3L), (9L, 3L))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val explicit = m(GraphAlgos.personalizedPageRank(edges, 3L, iters = 10))
    assert(m(GraphAlgos.personalizedPageRankMinSource(edges, iters = 10)) == explicit)
    // distributed iteration path too (localThreshold = 0)
    assert(m(GraphAlgos.personalizedPageRankMinSource(edges, iters = 10,
      localThreshold = 0)) == explicit)
    val be = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val bfsLit = GraphAlgos.bfsHops(be, 1L, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val bfsAgg = GraphAlgos.bfsHopsFrom(be, be.agg(min("s").as("node")), maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(bfsAgg == bfsLit)
    // multi-source BFS: hops = distance to the NEAREST seed
    val multi = GraphAlgos.bfsHopsFrom(be,
        Seq(1L, 4L).toDF("node"), maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(multi == Map(1L -> 0, 4L -> 0, 2L -> 1, 3L -> 1))
    val we = Seq((1L, 2L, 1.0), (2L, 3L, 2.0)).toDF("s", "d", "w")
    val spLit = GraphAlgos.shortestPaths(we, 1L, maxHops = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val spAgg = GraphAlgos.shortestPathsFrom(we, we.agg(min("s").as("node")),
        maxHops = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(spAgg == spLit)
  }

  test("duplicate seed rows collapse; seeds absent from the graph sit at 0") {
    // Round-8 advice: a duplicated seed must not surface as repeated
    // hops-0 / dist-0 rows, and a seed with no edges is still reported
    // at distance 0 from itself (documented contract).
    val be = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val bfs = GraphAlgos.bfsHopsFrom(be, Seq(1L, 1L, 1L, 99L).toDF("node"),
        maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(bfs.length == bfs.toSet.size, s"duplicate rows in $bfs")
    assert(bfs.toMap == Map(1L -> 0, 99L -> 0, 2L -> 1, 3L -> 2))
    val we = Seq((1L, 2L, 1.5)).toDF("s", "d", "w")
    val sp = GraphAlgos.shortestPathsFrom(we, Seq(1L, 1L, 99L).toDF("node"),
        maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(sp.length == sp.toSet.size, s"duplicate rows in $sp")
    assert(sp.toMap == Map(1L -> 0.0, 99L -> 0.0, 2L -> 1.5))
  }

  test("pageRank iteration runs no per-iteration driver-scalar jobs on dangling graphs") {
    // Round-8 verdict #2: the dangling-mass probe used to be a
    // per-iteration `agg(sum).head()` driver job; it is now a 1-row
    // broadcast aggregate folded into the rank-update plan. The single
    // up-front `isEmpty` dangling-set resolution is the only permitted
    // driver probe — NO `head at`/`first at` call-site job may fire
    // during construction or execution, dangling nodes present or not.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sites = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(Option(j.properties.getProperty("callSite.short")).getOrElse(""))
    }
    // star: hub 4 dangles — the dangling branch is exercised every iter
    val dangling = Seq((1L, 4L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    spark.sparkContext.addSparkListener(l)
    val got =
      try {
        val r = GraphAlgos.pageRank(dangling, iters = 4, localThreshold = 0)
        r.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      } finally {
        var last = -1; var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val cur = sites.size()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        spark.sparkContext.removeSparkListener(l)
      }
    import scala.jdk.CollectionConverters._
    val bad = sites.asScala.toSeq.filter(s =>
      s.startsWith("head at") || s.startsWith("first at"))
    assert(bad.isEmpty, s"driver-scalar jobs fired during pageRank: $bad")
    // and the in-plan mass fold is arithmetic-identical to the local path
    val local = GraphAlgos.pageRank(dangling, iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(got.keySet == local.keySet)
    local.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12) }
  }

  test("neighborhoodFunction: HyperBall estimates track exact BFS ball sizes") {
    // Path 1-2-3-4-5-6 with a branch 1-7-8: exact ball sizes are
    // hand-checkable; the sketch (m=16, linear-counting small range)
    // must start exactly at ln-of-one-register for h=0, grow
    // monotonically (registers only accumulate), and stay within the
    // m=16 error envelope of the exact counts everywhere.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 7L), (7L, 8L)).toDF("s", "d")
    val est = GraphAlgos.neighborhoodFunction(edges, hops = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact balls by local BFS over the symmetric adjacency
    val adj = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 7L), (7L, 8L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, h: Int): Set[Long] =
      (1 to h).foldLeft(Set(v))((s, _) => s ++ s.flatMap(adj.getOrElse(_, Set.empty)))
    val nodes = adj.keySet
    assert(est.keySet == (for (h <- 0 to 3; v <- nodes) yield (h, v)).toSet)
    val h0 = 16.0 * math.log(16.0 / 15.0) // one register set, V = 15
    nodes.foreach(v => assert(math.abs(est((0, v)) - h0) < 1e-12))
    for (v <- nodes; h <- 1 to 3) {
      val exact = ball(v, h).size.toDouble
      val e = est((h, v))
      assert(e >= est((h - 1, v)) - 1e-9, s"estimate shrank at ($h, $v)")
      assert(e > 0.4 * exact && e < 2.5 * exact,
        s"estimate $e for node $v at h=$h is outside the envelope of exact $exact")
    }
    // the h=3 ball of node 1 covers all 8 nodes: estimate lands near 8
    assert(math.abs(est((3, 1L)) - 8.0) < 4.0)
  }

  test("labelPropagation: two triangles over a bridge settle into two communities") {
    // Triangle {1,2,3} + triangle {4,5,6} joined by bridge 3-4: sync
    // LPA with min tie-break stabilizes to communities {1,2,3}->1 and
    // {4,5,6}->3 by round 4 (hand-traced); the bridge does NOT merge
    // them — the distinction from connected components.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("u", "v")
    val got = GraphAlgos.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("bfsHopsPerSeed: per-seed distances on a path, not nearest-seed") {
    // Path 1-2-3-4-5 with seeds {1, 5}: bfsHopsFrom would report
    // node 3 at hops 2 (nearest seed); the per-seed table must carry
    // BOTH (1,3,2) and (5,3,2) — that identity is what centrality
    // estimates sum over.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val seeds = Seq(1L, 5L).toDF("node")
    val got = GraphAlgos.bfsHopsPerSeed(edges, seeds, maxHops = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val want = (for {
      s <- Seq(1L, 5L); n <- 1L to 5L
    } yield (s, n) -> (if (s == 1L) (n - 1).toInt else (5 - n).toInt)).toMap
    assert(got == want)
    // hop bound binds per seed: maxHops = 1 keeps only the seeds + direct
    // neighbors of each
    val bounded = GraphAlgos.bfsHopsPerSeed(edges, seeds, maxHops = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded == Set((1L, 1L), (1L, 2L), (5L, 5L), (5L, 4L)))
  }

  test("kTruss: ladder cascades away over dependent sweeps, K5 survives") {
    // 10-cell triangle ladder (a_i-b_i rungs, rails, diagonals: every
    // interior edge in exactly 2 triangles) + disjoint K5. k=4 demands
    // support >= 2: the ladder peels over THREE dependent sweeps while
    // K5 (support 3 everywhere) is untouched. A single-pass support
    // filter would keep the ladder's interior — only the fixpoint
    // returns exactly the K5.
    val n = 10
    def A(i: Int) = i.toLong; def B(i: Int) = (100 + i).toLong
    val ladder =
      (1 to n).map(i => (A(i), B(i))) ++
        (1 until n).flatMap(i => Seq((A(i), A(i + 1)), (B(i), B(i + 1)), (A(i), B(i + 1))))
    val k5 = (for { a <- 200 to 204; b <- (a + 1) to 204 } yield (a.toLong, b.toLong))
    val edges = (ladder ++ k5).toDF("u", "v")
    val got = GraphAlgos.kTruss(edges, k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (200 to 204).map(_.toLong -> 4L).toMap)
    // k = 2 keeps everything (every edge is a 2-truss): degree of a1 is 3
    val all2 = GraphAlgos.kTruss(edges, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all2(A(1)) == 3L && all2(200L) == 4L && all2.size == 2 * n + 5)
  }

  test("modularityByCommunity: two triangles over a bridge, exact rationals") {
    // Same graph as the LPA test: m = 7 edges; communities {1,2,3} and
    // {4,5,6} each have 3 intra edges and degree sum 7 (the bridge adds
    // one degree to nodes 3 and 4). Per community:
    //   contrib_num = 4*m*m_c - d_c^2 = 4*7*3 - 49 = 35, denom = 4*49 = 196
    // so Q = (35 + 35) / 196 = 5/14 — positive, as a real split must be.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("u", "v")
    val labels = GraphAlgos.labelPropagation(edges, rounds = 4)
    val got = GraphAlgos.modularityByCommunity(edges, labels)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toMap
    assert(got == Map(
      1L -> ((3L, 3L, 7L, 35L, 196L)),
      3L -> ((3L, 3L, 7L, 35L, 196L))))
    // and an anti-structure check: everyone in ONE community has Q = 0
    // minus the degree variance term -> strictly negative contribution
    // is impossible when the partition is the whole graph (m_c = m),
    // contrib = 4m^2 - (2m)^2 = 0.
    val one = edges.select(col("u").as("node")).union(edges.select(col("v").as("node")))
      .distinct().withColumn("lbl", lit(9L))
    val whole = GraphAlgos.modularityByCommunity(edges, one).collect()
    assert(whole.length == 1 && whole.head.getLong(4) == 0L)
  }

  test("property: labelPropagation matches local synchronized simulation") {
    val samples = randomGraphs(seed = 303, count = 5)
    for (es <- samples) {
      val und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      if (und.nonEmpty) {
        val adj = und.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var lbl = adj.keySet.map(n => n -> n).toMap
        for (_ <- 1 to 4)
          lbl = adj.map { case (n, nbrs) =>
            val counts = nbrs.map(lbl).groupBy(identity).view.mapValues(_.size)
            n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          }
        val got = GraphAlgos.labelPropagation(es.toDF("u", "v"), rounds = 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == lbl, s"labelprop diverged on $und")
      }
    }
  }

  test("composite node keys round-trip arbitrary type/id characters") {
    // The length-prefixed key must not lean on ANY reserved character:
    // types carrying '|' and ':' and ids carrying '|' go through every
    // GraphQueries operator and come back verbatim (round-5 verdict #7).
    val edges = Seq(
      ("T|x", "a|1", "Co:m", "co|1", "WORKS_AT"),
      ("T|x", "a|2", "Co:m", "co|1", "WORKS_AT"),
      ("T|x", "a|1", "T|x", "a|2", "KNOWS"))
      .toDF("src_type", "src_id", "dst_type", "dst_id", "rel_type")
    val want = Set(("T|x", "a|1"), ("T|x", "a|2"), ("Co:m", "co|1"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.collect().map(r => (r.getAs[String]("entity_type"),
        r.getAs[String]("entity_id"))).toSet
    import graft.query.GraphQueries
    assert(pairs(GraphQueries.influenceRanking(edges)) == want)
    val com = GraphQueries.communities(edges)
    assert(pairs(com) == want) // one triangle -> one community
    assert(com.select("community_id").distinct().count() == 1)
    val nb = GraphQueries.neighborhood(edges, "T|x", "a|1", hops = 1)
    assert(pairs(nb) == want)
    val nbHops = nb.collect()
      .map(r => r.getAs[String]("entity_id") -> r.getAs[Int]("hops")).toMap
    assert(nbHops("a|1") == 0 && nbHops("a|2") == 1 && nbHops("co|1") == 1)
    val sp = GraphQueries.shortestPath(edges, "T|x", "a|1",
      to = Some(("Co:m", "co|1"))).collect()
    assert(sp.length == 1)
    assert(sp(0).getAs[String]("entity_id") == "co|1")
    assert(sp(0).getAs[Double]("distance") == 1.0) // one direct parallel edge
    val tri = GraphQueries.triangleCohesion(edges)
    assert(pairs(tri) == want)
    assert(tri.collect().forall(_.getAs[Long]("n_triangles") == 1L))
  }

  test("trianglesPerNode: broadcast-gated and all-shuffle branches agree on real data") {
    // The above-gate fallback (every join degrades to shuffle) must be
    // row-identical to the gated exchange-free pipeline on the actual
    // catalog graph, not just toy fixtures — run the co-part graph with
    // the gate disabled and compare (round-5 verdict #5).
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a")
      .join(li.as("b"),
        expr("a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    def rows(limit: Long): Seq[(String, Long)] =
      GraphAlgos.trianglesPerNode(pairs, broadcastEdgeLimit = limit)
        .orderBy("node").collect()
        .map(r => (r.get(0).toString, r.getLong(1))).toSeq
    val gated = rows(2L << 20)
    val shuffled = rows(0)
    assert(gated.nonEmpty)
    assert(gated == shuffled)
  }

  test("catalog graph queries run on sf0.001 and agree on shared shapes") {
    val d = "/root/testdata/sf0.001"
    val pr = SparkEntry.queries("g_pagerank_trade")(spark, d).collect()
    assert(pr.nonEmpty)
    // ranks are a probability vector: ppm sums to ~1e6
    val total = pr.map(_.getLong(1)).sum
    assert(math.abs(total - 1000000L) <= pr.length) // each entry rounds within 1
    val hist = SparkEntry.queries("g_degree_hist")(spark, d).collect()
    assert(hist.map(_.getLong(1)).sum > 0)
    val bfs = SparkEntry.queries("g_bfs_hops")(spark, d).collect()
    assert(bfs.exists(_.getInt(1) == 0) && bfs.forall(_.getInt(1) <= 3))
  }

  /** Local unnormalized HITS mirroring GraphAlgos.hits' loop exactly. */
  private def simHits(edges: Set[(Long, Long)],
      steps: Int): Map[Long, (Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    var a = nodes.map(n => n -> edges.count(_._2 == n).toLong).toMap
    var h = nodes.map(n =>
      n -> edges.filter(_._1 == n).toSeq.map(e => a(e._2)).sum).toMap
    for (_ <- 2 to steps) {
      a = nodes.map(n =>
        n -> edges.filter(_._2 == n).toSeq.map(e => h(e._1)).sum).toMap
      h = nodes.map(n =>
        n -> edges.filter(_._1 == n).toSeq.map(e => a(e._2)).sum).toMap
    }
    nodes.map(n => n -> ((a(n), h(n)))).toMap
  }

  test("property: hits matches local mutual-reinforcement on random digraphs") {
    for ((es, i) <- randomGraphs(seed = 1101L, count = 8).zipWithIndex) {
      val got = GraphAlgos.hits(es.toDF("s", "d"), steps = 2).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = simHits(es.toSet, steps = 2)
      assert(got == want, s"graph #$i: $es")
    }
  }

  test("hits on a two-level chain separates the hub from the authority") {
    // 1 -> 2, 1 -> 3, 4 -> 3: node 1 is the pure hub, node 3 the
    // strongest authority (two in-links from hubs)
    val e = Seq((1L, 2L), (1L, 3L), (4L, 3L)).toDF("s", "d")
    val got = GraphAlgos.hits(e, steps = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L)._1 == 0L)                        // nothing points at 1
    assert(got(3L)._1 > got(2L)._1)                 // 3 out-authorities 2
    assert(got(1L)._2 > got(4L)._2)                 // 1 out-hubs 4
    assert(got(2L)._2 == 0L && got(3L)._2 == 0L)    // sinks are no hubs
  }

  test("degreeAssortativity: star graph is exactly -1, clique NaN-free +1 denom") {
    // K1,4: every edge joins the deg-4 hub to a deg-1 leaf -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("u", "v")
    val r = GraphAlgos.degreeAssortativity(star).collect()(0)
      .getAs[Double]("r")
    assert(math.abs(r - (-1.0)) < 1e-12)
    // path of 4: mixed degrees, r strictly between -1 and 1
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val rp = GraphAlgos.degreeAssortativity(path).collect()(0)
      .getAs[Double]("r")
    assert(rp > -1.0 && rp < 1.0)
  }

  test("property: sageSample honors fanouts, samples real edges, repeats " +
    "identically") {
    for (es0 <- randomGraphs(seed = 2203L, count = 6)) {
      val es = es0.filter(e => e._1 != e._2).distinct
      if (es.nonEmpty) {
        val pairs = es.toDF("u", "v")
        val seedIds = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted.take(2)
        val seeds = seedIds.toDF("seed")
        def run() = GraphAlgos.sageSample(pairs, seeds, f1 = 3, f2 = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        val got = run()
        val sym = es.flatMap(e => Seq(e, e.swap)).toSet
        // every sampled (parent, node) is a real edge
        assert(got.forall { case (_, _, p, n, _) => sym.contains((p, n)) })
        // fanout bounds: <= 3 per seed at hop 1, <= 2 per parent at hop 2
        val h1 = got.filter(_._2 == 1L)
        assert(h1.groupBy(_._1).forall(_._2.size <= 3))
        assert(got.filter(_._2 == 2L)
          .groupBy(t => (t._1, t._3)).forall(_._2.size <= 2))
        // hop-2 parents are exactly the hop-1 sampled nodes
        assert(got.filter(_._2 == 2L).map(t => (t._1, t._3))
          .subsetOf(h1.map(t => (t._1, t._4))))
        // deterministic: a second run draws the identical sample
        assert(run() == got)
      }
    }
  }

  test("betweennessSampled matches hand-computed Brandes dependencies") {
    import graft.operators.GraphAlgos
    // path 1-2-3-4-5, pivot at 1: delta(4) = 1, delta(3) = 2, delta(2) = 3
    // (each interior node carries every shortest path to the nodes
    // beyond it), endpoints 0 — the classic Brandes check, in e6 units.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val got = GraphAlgos.betweennessSampled(path, Seq(1L).toDF("node"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 3000000L, 3L -> 2000000L, 4L -> 1000000L, 5L -> 0L))

    // star: center 10, leaves 11-13, pivot at a leaf: every shortest
    // path to the other two leaves runs through the center -> center
    // dependency 2, leaves 0.
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L)).toDF("s", "d")
    val gotStar = GraphAlgos.betweennessSampled(star, Seq(11L).toDF("node"),
      maxHops = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotStar == Map(10L -> 2000000L, 12L -> 0L, 13L -> 0L))

    // two pivots sum: path pivots {1, 5} are symmetric - interior nodes
    // get delta from both directions: node 3 sees 2 + 2 = 4.
    val both = GraphAlgos.betweennessSampled(path, Seq(1L, 5L).toDF("node"),
      maxHops = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(both(3L) == 4000000L && both(2L) == both(4L))
  }

  test("hyperball readouts share ONE pinned register computation per session") {
    // Round-9 verdict #3: g_neighborhood_func / g_eff_diameter /
    // g_harmonic_hyperball each rebuilt the identical register rounds.
    // The register table is now built once per (session, dataset) and
    // pinned; every readout is a row-local projection. Evidence: the
    // register rounds cut lineage per hop (localCheckpoint jobs in test
    // mode), so once the first readout has executed, running the OTHER
    // two end-to-end may fire NO lineage-cut job at all.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = "/root/testdata/sf0.001"
    // builds + pins the registers (or reuses an earlier suite's pin —
    // either way the pin exists after this line)
    assert(SparkEntry.queries("g_neighborhood_func")(spark, dir).count() > 0)
    val sites = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(Option(j.properties.getProperty("callSite.short")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(SparkEntry.queries("g_eff_diameter")(spark, dir).count() > 0)
      assert(SparkEntry.queries("g_harmonic_hyperball")(spark, dir).count() > 0)
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val cur = sites.size()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val rebuilt = sites.asScala.toSeq.filter(s =>
      s.contains("checkpoint") || s.contains("cutLineage"))
    assert(rebuilt.isEmpty,
      s"register rounds re-ran during shared readouts: $rebuilt")
  }

  /** True when `df` is a driver twin's answer (a local relation), not a
    * plan over the distributed loop's frames. */
  private def isLocal(df: DataFrame): Boolean = df.queryExecution.analyzed
    .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("driver twins: HyperBall registers and walks give the same rows and schema on both sides of the gate") {
    def both(name: String, twin: Boolean, run: Long => DataFrame): Unit = {
      val on = run(LocalGate.DefaultRows)
      assert(isLocal(on) == twin, s"$name: expected the ${if (twin) "twin" else "loop"} path")
      assertSameRows(on, run(0L), name)
    }
    def check(what: String, pairs: DataFrame, starts: DataFrame, twin: Boolean): Unit = {
      val sd = pairs.select(col("a").as("s"), col("b").as("d"))
      val uv = pairs.select(col("a").as("u"), col("b").as("v"))
      for (hops <- Seq(0, 3))
        both(s"$what hyperballRegisters hops=$hops", twin,
          t => GraphAlgos.hyperballRegisters(sd, hops, localThreshold = t))
      for (steps <- Seq(1, 4))
        both(s"$what deterministicWalks steps=$steps", twin,
          t => GraphAlgos.deterministicWalks(uv, starts, steps, localThreshold = t))
    }
    // random multigraphs with self-loops and duplicates; every node
    // starts a walk, plus a duplicate, an absent and a null start
    for ((es, i) <- randomGraphs(seed = 404, count = 3).zipWithIndex) {
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val starts = (nodes.map(Option(_)) ++ Seq(Some(nodes.head), Some(99L), None)).toDF("n")
      check(s"random graph $i", es.toDF("a", "b"), starts, twin = true)
    }
    // string ids whose UTF-8 order (Spark's neighbor rank) differs from
    // String.compareTo: U+FFFF sorts before U+1F600 in UTF-8 only
    val (bmp, astral, astral2) = ("\uFFFF", "\uD83D\uDE00", "\uD83D\uDE01")
    val strings = Seq(("c", bmp), ("c", astral), ("c", astral2), ("c", "a"),
      (bmp, astral), ("a", astral2), (astral, "c")).toDF("a", "b")
    check("string ids", strings,
      Seq(Some("c"), Some(bmp), Some("c"), Some("zz"), None).toDF("n"), twin = true)
    // dates stringify through the session time zone: the loops run
    val d = (i: Int) => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, i))
    val dates = Seq((d(1), d(2)), (d(2), d(3)), (d(3), d(1)), (d(3), d(4)), (d(4), d(4)))
      .toDF("a", "b")
    check("date ids", dates, dates.select(col("a").as("n")), twin = false)
  }

  test("the HyperBall twin also gates on the rows it answers with") {
    // a 10-node path: 18 symmetric pairs in, 10 nodes x 4 radii out
    val path = (1L until 10L).map(i => (i, i + 1)).toDF("s", "d")
    val loops = GraphAlgos.hyperballRegisters(path, 3, localThreshold = 0)
    for ((t, twin) <- Seq(17L -> false, 18L -> false, 39L -> false, 40L -> true)) {
      val got = GraphAlgos.hyperballRegisters(path, 3, localThreshold = t)
      assert(isLocal(got) == twin, s"localThreshold $t: expected the ${if (twin) "twin" else "loops"}")
      assertSameRows(got, loops, s"localThreshold $t")
    }
  }

  test("property: deterministicWalks matches its brute force on both paths") {
    // Brute force from the scaladoc: neighbors sorted ascending over the
    // distinct non-loop pairs in both directions; step t takes 0-based
    // rank pmod(first 12 hex digits of md5("cur:t:start"), degree).
    def brute(es: Seq[(Long, Long)], starts: Seq[Option[Long]], steps: Int): Seq[(Any, Int, Any)] = {
      val pairs = es.filter(e => e._1 != e._2).distinct
      val nbrs = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2).sorted).toMap
      val md5 = java.security.MessageDigest.getInstance("MD5")
      starts.distinct.flatMap {
        case None => Seq((null, 0, null))
        case Some(start) =>
          var cur = start
          (start, 0, start) +: (1 to steps).iterator.takeWhile(_ => nbrs.contains(cur)).map { t =>
            val hex = md5.digest(s"$cur:$t:$start".getBytes("UTF-8"))
              .map(b => f"${b & 0xff}%02x").mkString
            val ns = nbrs(cur)
            cur = ns((java.lang.Long.parseLong(hex.take(12), 16) % ns.size).toInt)
            (start, t, cur)
          }.toSeq
      }
    }
    for (es <- randomGraphs(seed = 606, count = 4); steps <- Seq(1, 5)) {
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val starts = nodes.map(Option(_)) ++ Seq(Some(nodes.head), Some(99L), None)
      val want = brute(es, starts, steps).groupBy(identity).view.mapValues(_.size).toMap
      for (t <- Seq(LocalGate.DefaultRows, 0L)) {
        val got = GraphAlgos.deterministicWalks(es.toDF("u", "v"), starts.toDF("n"), steps,
            localThreshold = t)
          .collect().map(r => (r.get(0), r.getInt(1), r.get(2))).toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(got == want, s"walks (localThreshold=$t, steps=$steps) diverged on $es")
      }
    }
  }

  test("gated HyperBall and walk builds stay within their job budgets") {
    // Measured on the twins: the counted cut (its shuffle stages and the
    // counting result job) plus one collect; the readout and the
    // literal starts add none. The loops take a fixed number of jobs
    // per round, so falling back to them fails here.
    val es = randomGraphs(seed = 707, count = 1).head.toDF("a", "b").localCheckpoint()
    val sd = es.select(col("a").as("s"), col("b").as("d"))
    val uv = es.select(col("a").as("u"), col("b").as("v"))
    val starts = Seq(1L, 2L, 3L).toDF("n")
    def jobs(what: String, budget: Int)(run: Long => DataFrame): Unit = {
      var rows = 0
      val twin = TestSpark.jobsDuring { rows = run(LocalGate.DefaultRows).collect().length }
      val loop = TestSpark.jobsDuring { run(0L).collect() }
      info(s"$what: $twin jobs gated, $loop on the loops, $rows rows")
      assert(rows > 0, s"$what returned nothing")
      assert(twin <= budget, s"$what launched $twin jobs, budget $budget")
    }
    jobs("hyperballRegisters + hyperballEstimates", 3)(t =>
      GraphAlgos.hyperballEstimates(GraphAlgos.hyperballRegisters(sd, 3, localThreshold = t)))
    jobs("deterministicWalks", 4)(t =>
      GraphAlgos.deterministicWalks(uv, starts, 4, localThreshold = t))
    // a gated matching's answer is a local relation: collecting it runs
    // no job
    val matching = graft.operators.Matching.greedy(uv.withColumn("w", col("u") + col("v")))
    assert(isLocal(matching))
    var matched = 0
    assert(TestSpark.jobsDuring { matched = matching.collect().length } == 0)
    assert(matched > 0)
  }

  test("gated twins leave no persisted frame behind, on either cut path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.{Components, Matching, Scc}
    import graft.plans.LocalEval
    val es = randomGraphs(seed = 808, count = 1).head
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    // an RDD-backed frame has no size estimate, so LocalEval declines it
    // and the gate takes the counted checkpoint; the local frame goes
    // through LocalEval
    val viaCheckpoint = spark.createDataFrame(
      spark.sparkContext.parallelize(es.map { case (a, b) => Row(a, b) }, 3), schema)
    assert(LocalEval(viaCheckpoint) eq viaCheckpoint)
    for (e <- Seq(viaCheckpoint, es.toDF("a", "b"))) {
      val sd = e.select(col("a").as("s"), col("b").as("d"))
      val uv = e.select(col("a").as("u"), col("b").as("v"))
      val twins = Seq[(String, () => DataFrame)](
        "connectedComponents" -> (() => Components.connectedComponents(e, "a", "b")),
        "strongComponents" -> (() => Scc.strongComponents(e, "a", "b")),
        "greedy" -> (() => Matching.greedy(uv.withColumn("w", col("u") + col("v")))),
        "pageRank" -> (() => GraphAlgos.pageRank(
          e.select(col("a").as("src"), col("b").as("dst"), lit(1.0).as("weight")))),
        "bfsHops" -> (() => GraphAlgos.bfsHops(sd, 1L)),
        "shortestPaths" -> (() => GraphAlgos.shortestPaths(sd.withColumn("w", lit(0.5)), 1L)),
        "hyperballRegisters" -> (() => GraphAlgos.hyperballRegisters(sd, 2)),
        "deterministicWalks" -> (() => GraphAlgos.deterministicWalks(uv, Seq(1L).toDF("n"), 3)))
      for ((name, twin) <- twins) {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        twin().collect()
        val gained = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(gained.isEmpty, s"$name left persisted RDDs $gained")
      }
    }
  }
}
