package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("ranks sum to 1 and stay uniform on a ring") {
    // directed ring: every node has out-degree 1 and in-degree 1 — the
    // uniform distribution is the exact fixpoint at every iteration
    val n = 64
    val edges = (0 until n)
      .map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val ranks = PageRank.run(edges, iterations = 5).collect()
    assert(ranks.length == n)
    val total = ranks.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-9, s"mass not conserved: $total")
    ranks.foreach(r =>
      assert(math.abs(r.getDouble(1) - 1.0 / n) < 1e-12,
        s"ring fixpoint must be uniform, got $r"))
  }

  test("hub of a symmetric star outranks the leaves") {
    val leaves = (1L to 20L)
    val edges = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L)))
      .toDF("src", "dst")
    val ranks = PageRank
      .run(edges, iterations = 10)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(ranks(0L) > ranks(1L) * 5, s"hub should dominate: $ranks")
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
  }

  test("personalized: mass conserved, seed dominates, rank decays with distance") {
    // symmetric path 0-1-2-3-4-5, seed {0}: affinity to the seed must
    // decay monotonically along the path, and no mass leaks (every
    // node has out-edges, seeds are graph nodes)
    val path = (0L until 5L).map(i => (i, i + 1))
    val sym = (path ++ path.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val ranks = PageRank
      .personalized(sym, seeds, iterations = 12)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9,
      s"mass not conserved: ${ranks.values.sum}")
    // decay holds away from the far endpoint; node 5 reflects all its
    // mass back to 4, so 4 can (correctly) edge past 3 — assert the
    // seed-side decay, the endpoint minimum, and parity-respecting
    // ordering instead of naive strict monotonicity
    (0L until 3L).foreach(i =>
      assert(ranks(i) > ranks(i + 1),
        s"rank must decay near the seed: $ranks"))
    assert(ranks(5L) < ranks(3L) && ranks(5L) < ranks(4L),
      s"far endpoint must rank lowest: $ranks")
    assert(ranks(0L) == ranks.values.max && ranks(5L) == ranks.values.min)
    assert(ranks(0L) > 1.0 / 6,
      s"seed must hold more than its uniform share: ${ranks(0L)}")
  }

  test("personalized with ALL nodes as seeds equals uniform PageRank") {
    val leaves = (1L to 12L)
    val sym = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L)))
      .toDF("src", "dst")
    val all = (0L to 12L).toDF("id")
    val ppr = PageRank
      .personalized(sym, all, iterations = 6)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    val upr = PageRank
      .run(sym, iterations = 6)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(ppr.keySet == upr.keySet)
    ppr.foreach { case (id, r) =>
      assert(math.abs(r - upr(id)) < 1e-12,
        s"all-seed PPR must equal uniform PageRank at $id: $r vs ${upr(id)}")
    }
  }

  test("personalized: locality — unreachable component gets no rank") {
    // two disconnected symmetric triangles; seed in the first one
    val t1 = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    val t2 = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val sym = (t1 ++ t2 ++ (t1 ++ t2).map(_.swap)).toDF("src", "dst")
    val ranks = PageRank
      .personalized(sym, Seq(0L).toDF("id"), iterations = 8)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(ranks.keySet == Set(0L, 1L, 2L),
      s"rank frame must stay inside the seed component: ${ranks.keySet}")
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)

    // hub-adversarial (q483): a symmetric 2000-spoke star seeded at
    // the hub, plus a disjoint triangle. The frame holds exactly the
    // hub and its spokes, and the hub's rank follows the 2-state
    // recurrence: spokes split the hub's mass evenly and return all
    // of it, teleport goes to the hub alone
    val star = (1L to 2000L).map(l => (0L, l))
    val far = t2.map { case (a, b) => (a + 5000L, b + 5000L) }
    val starSym = (star ++ far ++ (star ++ far).map(_.swap))
      .toDF("src", "dst")
    val ppr = PageRank
      .personalized(starSym, Seq(0L).toDF("id"), iterations = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(ppr.keySet == (0L to 2000L).toSet)
    assert(math.abs(ppr.values.sum - 1.0) < 1e-9)
    val (hub, _) = (1 to 4).foldLeft((1.0, 0.0)) { case ((h, sp), _) =>
      (0.15 + 0.85 * sp, 0.85 * h)
    }
    assert(math.abs(ppr(0L) - hub) < 1e-9, s"hub ${ppr(0L)} vs $hub")
  }

  test("near-dup pagerank rows cover exactly the edged docs") {
    val dir = "/root/testdata/sf0.001"
    val pairs = Dedup.ngramJaccardPairs(spark, dir)
    val nodes = pairs
      .select(col("doc_a").as("id"))
      .unionByName(pairs.select(col("doc_b").as("id")))
      .distinct()
      .count()
    val pr = PageRank.nearDupPageRank(spark, dir)
    assert(pr.count() == nodes)
    assert(pr.filter(col("rank") <= 0).count() == 0)
  }
}
