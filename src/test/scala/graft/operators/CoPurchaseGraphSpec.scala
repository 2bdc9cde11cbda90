package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared co-purchase graph seam (round-10 verdict item 1):
  * q445/q460/q465/q474 must all read [[CoPurchaseGraph.edges]] — the
  * plan-identity tests pin the call graph, so a future edit that
  * re-inlines the edge derivation in one consumer (the proven
  * divergence risk) fails here. Plus semantics of the new bounded
  * truss peel and the extracted BFS engine on hand-built graphs.
  */
class CoPurchaseGraphSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // The hub-adversarial shapes of the graph operators' scale claims,
  // built small: T disjoint triangles plus one hub with S spokes
  // (un-oriented, the hub alone would emit C(S,2) wedges), and Q
  // disjoint 4-cliques past the hub's ids.
  private val T = 300L
  private val S = 2000L
  private val Q = 50L
  private val hub = 3 * T

  private def hubGraph: Seq[(Long, Long)] =
    (0L until T).flatMap(i =>
      Seq((3 * i, 3 * i + 1), (3 * i, 3 * i + 2), (3 * i + 1, 3 * i + 2))) ++
      (1L to S).map(i => (hub, hub + i))

  private def k4s: Seq[(Long, Long)] = {
    val base = hub + S + 1
    for (q <- 0L until Q; i <- 0L to 3L; j <- (i + 1) to 3L)
      yield (base + 4 * q + i, base + 4 * q + j)
  }

  private def containsEdgesSubtree(df: DataFrame): Boolean = {
    val seam = CoPurchaseGraph.edges(spark, sf).queryExecution.analyzed
    df.queryExecution.analyzed.exists(_.sameResult(seam))
  }

  test("q445, q460, q474 plans contain the shared edge-seam subtree") {
    // (q465 consumes the seam too, but its frontier loop runs eagerly
    // at construction — pinned separately below via bfsLevelHistogram)
    assert(containsEdgesSubtree(Relational.coPurchaseTriangles(spark, sf)))
    assert(containsEdgesSubtree(Relational.coPurchaseEdgeSupport(spark, sf)))
    graft.util.Caches.releaseAll()
  }

  test("edgeSupport over a known graph: K4=2, pendant tri=1, bridge=0") {
    import spark.implicits._
    // K4 on {0,1,2,3}; pendant triangle {4,5,6}; bridge 3-4
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val tri = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val edges = (k4 ++ tri :+ ((3L, 4L))).toDF("u", "v")
    val got = CoPurchaseGraph
      .edgeSupport(edges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    k4.foreach(e => assert(got(e) == 2L, s"K4 edge $e"))
    tri.foreach(e => assert(got(e) == 1L, s"triangle edge $e"))
    assert(got((3L, 4L)) == 0L, "bridge")
  }

  test("triangles: a 2000-spoke hub adds no wedge (q445)") {
    import spark.implicits._
    val edges = hubGraph.toDF("u", "v")
    assert(CoPurchaseGraph.triangles(edges).count() == T)
    // the work: every spoke edge points AT the hub, so the hub has
    // out-degree 0 and the wedge join emits exactly one wedge per
    // triangle, not C(S,2) through the hub
    val out = CoPurchaseGraph
      .oriented(edges, CoPurchaseGraph.degrees(edges))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("d"))
    assert(out.filter(col("src") === hub).isEmpty)
    val wedges = out.agg(sum(col("d") * (col("d") - 1) / 2)).head().getDouble(0)
    assert(wedges == T.toDouble)
  }

  test("boundedTrussClasses: bridge→2, pendant tri→3, K4→4") {
    import spark.implicits._
    def classes(edges: Seq[(Long, Long)]): Map[Long, Long] =
      CoPurchaseGraph
        .boundedTrussClasses(spark, edges.toDF("u", "v"), peelRounds = 4)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val tri = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    assert(classes(k4 ++ tri :+ ((3L, 4L))) == Map(2L -> 1L, 3L -> 3L, 4L -> 6L))
    // hub-adversarial (q474): the spokes sit in no triangle, every
    // triangle edge peels in round 1, the K4s are the 4-truss
    assert(classes(hubGraph ++ k4s) == Map(2L -> S, 3L -> 3 * T, 4L -> 6 * Q))
  }

  test("truss peel cascades: triangle strip peels inward") {
    import spark.implicits._
    // strip of triangles sharing edges: 0-1-2, 1-2-3, 2-3-4 —
    // shared edges (1,2) and (2,3) have support 2, the rest 1; round
    // 1 peels the support-1 edges, killing ALL triangles, so round 2
    // peels (1,2)/(2,3) down to support 0 → nothing survives class 4
    val edges = Seq(
      (0L, 1L), (0L, 2L), (1L, 2L),
      (1L, 3L), (2L, 3L),
      (2L, 4L), (3L, 4L)
    ).toDF("u", "v")
    val got = CoPurchaseGraph
      .boundedTrussClasses(spark, edges, peelRounds = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(2L -> 0L, 3L -> 7L, 4L -> 0L))
  }

  test("bounded peel: cap binds and early-exits are no-ops") {
    import spark.implicits._
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val edges = k4.toDF("u", "v")
    // fixpoint from round 1: every cap gives the same census
    val a = CoPurchaseGraph
      .boundedTrussClasses(spark, edges, 1).collect().toSeq
    val b = CoPurchaseGraph
      .boundedTrussClasses(spark, edges, 4).collect().toSeq
    assert(a.sortBy(_.getLong(0)) == b.sortBy(_.getLong(0)))
  }

  test("densestSubgraphPeel: star peels away, clique core survives") {
    import spark.implicits._
    // hub 0 with spokes 1..20 (deg 1) plus a disjoint K5 on 100..104
    val star = (1L to 20L).map(i => (0L, i))
    val k5 = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val got = CoPurchaseGraph
      .densestSubgraphPeel(spark, (star ++ k5).toDF("u", "v"), rounds = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
      .toSeq
    // round 0: n=26, m=30, micro=floor((60e6+26)/52); threshold
    // deg·26 > 90 keeps hub (20) and K5 (4), drops the spokes.
    // round 1: hub is isolated but peels only NEXT round — n=6,
    // m=10; threshold deg·6 > 30 keeps nobody → loop ends, and the
    // best density is the round-1 core.
    assert(got == Seq(
      (0L, 26L, 30L, 1153846L, 0L),
      (1L, 6L, 10L, 1666667L, 1L)
    ))
    // hub-adversarial (q482): a 2000-spoke star and a planted K24.
    // Round 0 peels every spoke in one round (deg·n ≤ 3·m), round 1
    // holds the hub (isolated, peeled next) and the clique, the
    // densest prefix; then the clique peels too — two rounds
    val k24 = for (a <- 0L until 23L; b <- (a + 1) until 24L)
      yield (10000L + a, 10000L + b)
    val adv = CoPurchaseGraph
      .densestSubgraphPeel(
        spark, ((1L to 2000L).map(i => (0L, i)) ++ k24).toDF("u", "v"),
        rounds = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
      .toSeq
    // n0 = 2025, m0 = 2276: half-up(2276e6/2025) = 1123951;
    // n1 = 25, m1 = 276: 276e6/25 = 11040000
    assert(adv == Seq(
      (0L, 2025L, 2276L, 1123951L, 0L),
      (1L, 25L, 276L, 11040000L, 1L)
    ))
  }

  test("densestSubgraphPeel: single round, is_best on the only row") {
    import spark.implicits._
    // K4: every deg 3, 3·4 = 12 <= 3·6 = 18 → everything peels in
    // round 0's peel, so only the round-0 row is emitted and flagged
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val got = CoPurchaseGraph
      .densestSubgraphPeel(spark, k4.toDF("u", "v"), rounds = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == Seq((0L, 4L, 6L, 1500000L, 1L)))
  }

  test("boundedCorenessCensus: path=1, triangle=2, K5=4") {
    import spark.implicits._
    val path = Seq((0L, 1L), (1L, 2L))
    val tri = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val k5 = for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b)
    val got = CoPurchaseGraph
      .boundedCorenessCensus(
        spark, (path ++ tri ++ k5).toDF("u", "v"),
        maxK = 4, roundsPerLevel = 3)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 0L, 4L -> 5L))
  }

  test("boundedCorenessCensus: the round cap binds on a long path") {
    import spark.implicits._
    // path of 20 nodes: level-2 peel strips one node per end per
    // round; with 3 rounds only 6 leave as class 1, then the whole
    // 14-node remnant (deg ≤ 2 < 3) falls in level 3's first round
    val chain = (0L until 19L).map(i => (i, i + 1))
    val got = CoPurchaseGraph
      .boundedCorenessCensus(spark, chain.toDF("u", "v"),
        maxK = 4, roundsPerLevel = 3)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(1L -> 6L, 2L -> 14L, 3L -> 0L, 4L -> 0L))
  }

  test("bfsLevelHistogram: chain levels, disconnected at -1, hop cap") {
    import spark.implicits._
    // path 0-1-2-3 plus disconnected pair 10-11
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("u", "v")
    val sym = CoPurchaseGraph.symmetric(edges)
    val got = CoPurchaseGraph
      .bfsLevelHistogram(spark, sym, seed = 0L, maxHops = 20)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(-1L -> 2L, 0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    // hop cap: 25-chain cut at 3 hops → 4 reached, 21 at -1
    val chain = (0L until 24L).map(i => (i, i + 1)).toDF("u", "v")
    val capped = CoPurchaseGraph
      .bfsLevelHistogram(
        spark, CoPurchaseGraph.symmetric(chain), seed = 0L, maxHops = 3)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(capped == Map(-1L -> 21L, 0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    // hub + chain (q465): seed 0 — hub 1 whose 2000 spokes form ONE
    // level — plus a 12-node chain hanging off the seed, past the
    // 8-hop cap: one level per hop up to the cap, whatever the hub's
    // fan-out, and the chain tail stays at -1
    val chainBase = 5000L
    val hubChain = (Seq((0L, 1L), (0L, chainBase)) ++
      (2L to 2001L).map(i => (1L, i)) ++
      (chainBase until chainBase + 11L).map(i => (i, i + 1))).toDF("u", "v")
    val hist = CoPurchaseGraph
      .bfsLevelHistogram(
        spark, CoPurchaseGraph.symmetric(hubChain), seed = 0L, maxHops = 8)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(hist == Map(-1L -> 4L, 0L -> 1L, 1L -> 2L, 2L -> 2001L) ++
      (3L to 8L).map(_ -> 1L))
  }
}
