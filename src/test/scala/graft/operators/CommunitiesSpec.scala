package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-built ground truths for the round-11 community family: LP
  * rounds with the deterministic min tie-break, integer HITS
  * recurrence, modularity arithmetic, the ordered funnel's
  * strictly-after semantics, and the greedy cover's marginal-gain
  * argmax.
  */
class CommunitiesSpec extends AnyFunSuite with SparkSpec {

  private def sym(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    val e = edges.toDF("a", "b")
    e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
  }

  test("LP: two triangles joined by one bridge split into two communities") {
    // triangle {0,1,2} — bridge 2-3 — triangle {3,4,5}: after round 1
    // every node's neighbor-min label pulls to its triangle's min,
    // and rounds 2-3 keep the split (the bridge is outvoted 1:2)
    val labels = Communities
      .lpLabelsFrom(
        sym(Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L),
          (3L, 4L), (3L, 5L), (4L, 5L))),
        rounds = 3)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(Set(0L, 1L, 2L).map(labels) == Set(0L),
      s"left triangle labels: $labels")
    assert(Set(3L, 4L, 5L).map(labels).size == 1 &&
      labels(4L) != labels(0L),
      s"right triangle separate: $labels")
  }

  test("LP tie-break: a 2-path adopts the minimum label deterministically") {
    // path 7-9: each node's only neighbor label wins; node 9 takes 7,
    // node 7 takes 9 in round 1, then round 2 swaps back — the fixed
    // 3-round contract must land both on the same value every run
    val l1 = Communities.lpLabelsFrom(sym(Seq((7L, 9L))), 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l2 = Communities.lpLabelsFrom(sym(Seq((7L, 9L))), 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1 == l2, "LP must be run-to-run deterministic")
    // the same oscillation on a 2000-spoke star (q475): round 1 the
    // hub adopts the minimum spoke label (1), every spoke the hub's
    // (0); each later round swaps them, so after the capped 3 rounds
    // hub = 1 and spokes = 0, exactly
    val star = Communities
      .lpLabelsFrom(sym((1L to 2000L).map(i => (0L, i))), rounds = 3)
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(star == Map(0L -> 2000L, 1L -> 1L))
  }

  private def hits(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Communities
      .hitsFrom(edges.toDF("src", "dst"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  test("integer HITS on a 2-path: exact recurrence values") {
    // edges 1→2, 2→3. h0 = 1 everywhere.
    // a1 = in-sums of h0: a(2)=1, a(3)=1, a(1)=0
    // h1 = out-sums of a1: h(1)=a(2)=1, h(2)=a(3)=1, h(3)=0
    // round 2: a(2)=h(1)=1, a(3)=h(2)=1; h(1)=1, h(2)=1
    // fixpoint from round 1 — after 4 rounds same values
    assert(hits(Seq((1L, 2L), (2L, 3L))) ==
      Map(1L -> ((0L, 1L)), 2L -> ((1L, 1L)), 3L -> ((1L, 0L))))
  }

  test("integer HITS: a 200-spoke star sits on the degree bound, 201 spokes trip it (q477)") {
    // after 4 un-normalized rounds auth(spoke) = 200³ and hub(hub) =
    // 200⁴, exact BIGINTs; one more spoke and the guard refuses
    // before any round runs
    val at = hits((1L to 200L).map(i => (0L, i)))
    assert(at(0L) == ((0L, 1600000000L)))
    assert((1L to 200L).forall(i => at(i) == ((8000000L, 0L))))
    val e = intercept[IllegalArgumentException](
      hits((1L to 201L).map(i => (0L, i))))
    assert(e.getMessage.contains("max degree 201"))
  }

  test("dbscanGridPoints: tight anchors cluster apart; occupancy 4096 passes, 4097 trips (q476)") {
    // 250 anchors 0.1 apart, 8 points each within 0.0056 of their
    // anchor (< eps = 2⁻⁶): every point is core with 7 neighbors,
    // every anchor its own cluster, no noise
    val spread = spark
      .range(2000L)
      .select(
        col("id").as("vec_id"),
        (floor(col("id") / 8L).cast("double") * 0.1 +
          (col("id") % 8L).cast("double") * 0.0008).as("x"),
        lit(0.0).as("y"))
    val got = Communities
      .dbscanGridPoints(spark, spread)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.count(c => c._1 >= 0L && c._2 == 8L && c._3 == 0L) == 250)
    assert(got.count(_._1 >= 0L) == 250)
    assert(got.filter(_._1 == -1L).toSeq == Seq((-1L, 0L, 0L)))
    // n points in ONE eps-cell: the guard counts the occupancy
    // before any candidate pair exists
    def oneCell(n: Long) = spark
      .range(n)
      .select(col("id").as("vec_id"),
        (col("id").cast("double") / (n * 100000.0)).as("x"),
        lit(0.001).as("y"))
    val e = intercept[IllegalArgumentException](
      Communities.dbscanGridPoints(spark, oneCell(4097L)))
    assert(e.getMessage.contains("occupancy 4097"))
    // at the bound the cell's 4096 points are mutual neighbors: one
    // cluster of core points
    val at = Communities.dbscanGridPoints(spark, oneCell(4096L)).collect()
    assert(at.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((0L, 4096L, 0L), (-1L, 0L, 0L)))
    graft.util.Caches.releaseAll()
  }

  test("modularity arithmetic: two clean communities score positive") {
    // Newman contribution for community c: (4·m·e_c − d_c²)/(4m²).
    // Two disjoint triangles: m = 6, each community e_c = 3, d_c = 6
    // → (4·6·3 − 36)/(4·36) = 36/144 = 0.25 → 250000 micro each.
    val contrib = (4L * 6L * 3L - 36L) * 1000000L / (4L * 6L * 6L)
    assert(contrib == 250000L)
  }

  test("ordered funnel is strictly-after: a purchase before the click is lost") {
    // user 1: view@1, click@2, purchase@3  → full conversion
    // user 2: purchase@1, view@2, click@3  → stops at click
    // user 3: click@1, view@2              → stops at view
    import spark.implicits._
    val dirTmp = java.nio.file.Files
      .createTempDirectory("funnel").toString
    Seq(
      (1L, "view", "2024-01-01 00:00:01"),
      (1L, "click", "2024-01-01 00:00:02"),
      (1L, "purchase", "2024-01-01 00:00:03"),
      (2L, "purchase", "2024-01-01 00:00:01"),
      (2L, "view", "2024-01-01 00:00:02"),
      (2L, "click", "2024-01-01 00:00:03"),
      (3L, "click", "2024-01-01 00:00:01"),
      (3L, "view", "2024-01-01 00:00:02")
    )
      .toDF("user_id", "event_type", "ts_s")
      .select(col("user_id"), col("event_type"),
        col("ts_s").cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(s"$dirTmp/events.parquet")
    val got = Events.orderedFunnel(spark, dirTmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got("0_users") == ((3L, 1000000L)))
    assert(got("1_view")._1 == 3L)
    assert(got("2_click")._1 == 2L, "users 1 and 2 click after viewing")
    assert(got("3_purchase")._1 == 1L,
      "only user 1 purchases after the click")
    graft.util.Caches.releaseAll()
  }

  test("greedy cover discounts what the first pick already covers") {
    // sources: A covers {x y z}, B covers {x y w v}, C covers {z}.
    // Plain totals pick B (4) then A (gain 1: z) — greedy must also
    // discount: round 1 B (4), round 2 A gains only z (1), C ties at
    // 1 and loses to A on the source-asc tie-break? No — A gains 1
    // (z) and C gains 1 (z): same shingle! A also has x,y covered.
    // gains: A→1 (z), C→1 (z); tie → 'A' < 'C' picks A.
    import spark.implicits._
    val dirTmp = java.nio.file.Files
      .createTempDirectory("cover").toString
    Seq(
      (1L, "A", "x1 x2 x3 y1 y2 y3 z1 z2 z3"),
      (2L, "B", "x1 x2 x3 y1 y2 y3 w1 w2 w3 v1 v2 v3"),
      (3L, "C", "z1 z2 z3")
    )
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dirTmp/documents.parquet")
    // 3-shingles: A has 7, B has 10, C has 1; overlaps: A∩B = the 4
    // shingles inside x1..y3; A∩C = z1 z2 z3 (1 shingle)
    val got = Communities.greedySourceCover(spark, dirTmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got(0)._2 == "B" && got(0)._3 == 10L,
      s"round 1 picks the largest set: ${got.toSeq}")
    assert(got(1)._2 == "A" && got(1)._3 == 3L,
      s"round 2 must discount B's coverage: ${got.toSeq}")
    assert(got(1)._4 == 13L, "cumulative = 10 + 3")
    // C's only shingle is already covered by A — no third row
    assert(got.length == 2, s"exhausted greedy stops: ${got.toSeq}")
    graft.util.Caches.releaseAll()
  }
}
