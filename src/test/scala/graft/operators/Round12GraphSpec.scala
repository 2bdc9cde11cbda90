package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 graph additions on hand-built graphs with pencil-checked
  * answers: the node-side triangle credit (q487's numerator), the
  * lcc bucket census, the rich-club curve at degree-decile
  * thresholds, and the CN/RA link-prediction miner — plus the
  * plan-identity pins that q487/q489 read the shared co-purchase
  * edge seam rather than re-deriving it.
  */
class Round12GraphSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // K4 on {0,1,2,3} + pendant triangle {4,5,6} + bridge 3-4
  private def kitGraph: DataFrame = {
    import spark.implicits._
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val tri = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    (k4 ++ tri :+ ((3L, 4L))).toDF("u", "v")
  }

  // hub-adversarial: a 2000-spoke star on hub 0 plus a planted K24
  // on 10000..10023 (canonical u < v)
  private def starK24: DataFrame = {
    import spark.implicits._
    val k24 = for (a <- 0L until 23L; b <- (a + 1) until 24L)
      yield (10000L + a, 10000L + b)
    ((1L to 2000L).map(i => (0L, i)) ++ k24).toDF("u", "v")
  }

  test("nodeTriangleCounts: K4 corners 3, pendant corners 1") {
    val got = CoPurchaseGraph
      .nodeTriangleCounts(CoPurchaseGraph.triangles(kitGraph))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    (0L to 3L).foreach(n => assert(got(n) == 3L, s"K4 node $n"))
    (4L to 6L).foreach(n => assert(got(n) == 1L, s"pendant node $n"))
  }

  test("lccBuckets: closed neighborhoods 100, bridge ends 50 and 33") {
    // lcc: K4 interior nodes 0,1,2 -> 1.0 (bucket 100); node 3
    // (deg 4, tri 3) -> 0.5 (bucket 50); node 4 (deg 3, tri 1) ->
    // 1/3 = 333333 ppm (bucket 33); nodes 5,6 (deg 2, tri 1) -> 1.0
    val got = Relational
      .lccBuckets(kitGraph)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(100L) == ((5L, 11L)), "bucket 100: nodes 0,1,2,5,6")
    assert(got(50L) == ((1L, 3L)), "bucket 50: node 3")
    assert(got(33L) == ((1L, 1L)), "bucket 33: node 4")
    assert(got.size == 3)
    // q487: orientation points every spoke AT the hub, so the hub
    // closes no wedge and the spokes report 0 by contract; the 24
    // clique nodes sit at lcc 1 with C(23,2) = 253 triangles each
    val adv = Relational
      .lccBuckets(starK24)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(adv == Map(0L -> ((2001L, 0L)), 100L -> ((24L, 6072L))))
  }

  test("richClubFrom: star + one spoke edge, phi 1.0 then empty club") {
    import spark.implicits._
    // hub 0 - spokes 1..10, plus (1,2): degrees 0->10, 1,2->2,
    // 3..10->1; decile bounds k(1..7)=1, k(8,9)=2; club at k=1 is
    // the triangle {0,1,2} (phi=1.0), at k=2 only the hub (n<2 -> 0)
    val edges = ((1L to 10L).map(s => (0L, s)) :+ ((1L, 2L)))
      .toDF("u", "v")
    val got = Relational
      .richClubFrom(edges)
      .collect()
      .map(r =>
        r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.size == 9)
    (1L to 7L).foreach { d =>
      assert(got(d) == ((1L, 3L, 3L, 1000000L)), s"decile $d")
    }
    (8L to 9L).foreach { d =>
      assert(got(d) == ((2L, 1L, 0L, 0L)), s"decile $d")
    }
    // q489: degrees {1, 23, 2000} — the spokes put every decile bound
    // at k = 1, and the club above it is the hub + clique with only
    // the 276 clique edges: phi = half-up(2·276·10⁶ / (25·24))
    val adv = Relational
      .richClubFrom(starK24)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
      .toSeq
    assert(adv == (1L to 9L).map(d => (d, 1L, 25L, 276L, 920000L)))
  }

  test("linkPredictionFrom: C4 diagonals scored, edges anti-joined") {
    import spark.implicits._
    // cycle 1-2-3-4: both diagonals are open wedges with cn=2 and
    // ra = 2 * halfUp(1e6/2); neighborhoods coincide (jaccard 1.0)
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val got = Dedup
      .linkPredictionFrom(
        c4.select(
          c4("u").as("doc_a"),
          c4("v").as("doc_b")
        )
      )
      .collect()
      .map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    assert(
      got.toSeq == Seq(
        (1L, 3L, 2L, 1000000L, 1000000L),
        (2L, 4L, 2L, 1000000L, 1000000L)
      )
    )
  }

  test("linkPredictionFrom: closing a diagonal removes it from output") {
    import spark.implicits._
    // add edge (1,3): the only open pair left is (2,4) through the
    // two deg-3 centers 1 and 3 -> ra = 2 * halfUp(1e6/3) = 666666
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("doc_a", "doc_b")
    val got = Dedup
      .linkPredictionFrom(edges)
      .collect()
      .map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    assert(got.toSeq == Seq((2L, 4L, 2L, 666666L, 1000000L)))
  }

  test("linkPredictionFrom: a 2000-spoke star fans out through its hub; degree 4096 passes, 4097 trips (q488)") {
    def star(n: Long) =
      spark.range(1L, n + 1L).select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    // C(2000,2) open wedges through the hub, each cn 1,
    // ra = half-up(10⁶/2000) = 500, Jaccard 10⁶; the top-20 tie-break
    // picks (1,2)..(1,21)
    val got = Dedup
      .linkPredictionFrom(star(2000L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == (2L to 21L).map(b => (1L, b, 1L, 500L, 1000000L)))
    // the degree pre-flight runs when the frame is built, before any
    // wedge: at the cap the frame builds (and is never forced here),
    // one past it the build refuses
    assert(Dedup.linkPredictionFrom(star(4096L)).columns.length == 5)
    val e = intercept[IllegalArgumentException](
      Dedup.linkPredictionFrom(star(4097L)))
    assert(e.getMessage.contains("degree 4097"))
    graft.util.Caches.releaseAll()
  }

  test("bfsLevelsFrom: chain levels, hop cap, unreachable absent") {
    import spark.implicits._
    // chain 0-1-2-3 + disjoint pair 10-11; seed 0, cap 2 hops
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("u", "v")
    val got = CoPurchaseGraph
      .bfsLevelsFrom(
        spark,
        CoPurchaseGraph.symmetric(edges),
        seed = 0L,
        maxHops = 2
      )
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L),
      s"node 3 past the cap and the 10-11 island must be absent: $got")
  }

  test("doubleSweepEcc: two rows, sweep 1 seeded at sweep 0's far node") {
    val rows = Relational
      .doubleSweepEcc(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
    assert(rows.length == 2)
    val (s0, s1) = (rows(0), rows(1))
    assert(s1._2 == s0._3, "sweep 1 seed must be sweep 0's far node")
    assert(s1._4 >= s0._4, "double sweep can only sharpen the bound")
    assert(s0._5 == s1._5, "both sweeps cover the same component")
    graft.util.Caches.releaseAll()
  }

  test("dimTruncationRecall: 4 widths, full width is the identity") {
    val rows = Similarity
      .dimTruncationRecall(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet == Set(8L, 16L, 32L, 64L))
    // 500 vectors at sf0.001 -> 20 queries; width 64 IS the ground
    // truth, so overlap is exactly 10 per query and recall 10^6
    assert(rows(64L) == ((20L, 200L, 1000000L)), s"got ${rows(64L)}")
    rows.foreach { case (d, (nq, ov, ppm)) =>
      assert(nq == 20L && ov <= 200L && ppm <= 1000000L, s"width $d")
    }
    graft.util.Caches.releaseAll()
  }

  test("attackRobustnessFrom: star + triangle vs union-find truth") {
    import spark.implicits._
    // hub 0 - spokes 1..100, disjoint triangle {200,201,202}:
    // 104 participating nodes -> k = ceil(104/100) = 2 removals
    val star = (1L to 100L).map(s => (0L, s))
    val tri = Seq((200L, 201L), (200L, 202L), (201L, 202L))
    val all = star ++ tri
    val got = Relational
      .attackRobustnessFrom(all.toDF("u", "v"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))))
      .toMap

    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = all.flatMap(e => Seq(e._1, e._2)).distinct
    val degOf = all.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    def censusAfter(removed: Set[Long]): (Long, Long, Long, Long, Long) = {
      val es = all.filterNot(e => removed(e._1) || removed(e._2))
      val ns = es.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(ns.map(n => n -> n): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val sizes = ns.groupBy(find).map(_._2.size.toLong)
      val nNodes = ns.size.toLong
      val giant = if (nNodes == 0) 0L
        else (2L * sizes.max * 1000000L + nNodes) / (2L * nNodes)
      (nNodes, es.size.toLong, sizes.size.toLong,
        if (sizes.isEmpty) 0L else sizes.max, giant)
    }
    val targeted = ids
      .sortBy(n => (-degOf(n), n)).take(2).toSet
    val random = ids
      .sortBy(n => (md5hex(n.toString), n)).take(2).toSet
    assert(targeted == Set(0L, 200L), s"targeted picks $targeted")
    for ((scn, rem, nRem) <- Seq(
        ("intact", Set.empty[Long], 0L),
        ("random_1pct", random, 2L),
        ("targeted_1pct", targeted, 2L))) {
      val (nn, ne, nc, mx, g) = censusAfter(rem)
      assert(got(scn) == ((nRem, nn, ne, nc, mx, g)), s"$scn: ${got(scn)}")
    }
    graft.util.Caches.releaseAll()
  }

  test("q487/q489 plans contain the shared co-purchase edge seam") {
    val seam = CoPurchaseGraph.edges(spark, sf).queryExecution.analyzed
    def pinned(df: DataFrame): Boolean =
      df.queryExecution.analyzed.exists(_.sameResult(seam))
    assert(pinned(Relational.clusteringCensus(spark, sf)))
    assert(pinned(Relational.richClubCurve(spark, sf)))
    graft.util.Caches.releaseAll()
  }
}
