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
  }

  test("integer HITS on a 2-path: exact recurrence values") {
    // edges 1→2, 2→3. h0 = 1 everywhere.
    // a1 = in-sums of h0: a(2)=1, a(3)=1, a(1)=0
    // h1 = out-sums of a1: h(1)=a(2)=1, h(2)=a(3)=1, h(3)=0
    // round 2: a(2)=h(1)=1, a(3)=h(2)=1; h(1)=1, h(2)=1
    // fixpoint from round 1 — after 4 rounds same values
    import spark.implicits._
    // build a tiny corpus-free check by calling the recurrence the
    // same way hitsCopyFlow does, via a local replica
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    var hub = nodes.select(col("id"), lit(1L).as("s"))
    var auth = hub
    for (_ <- 1 to 4) {
      auth = nodes
        .join(
          e.join(hub, e("src") === hub("id")).groupBy(col("dst"))
            .agg(sum(col("s")).as("t")),
          nodes("id") === col("dst"), "left")
        .select(nodes("id"), coalesce(col("t"), lit(0L)).as("s"))
        .localCheckpoint(true)
      hub = nodes
        .join(
          e.join(auth, e("dst") === auth("id")).groupBy(col("src"))
            .agg(sum(col("s")).as("t")),
          nodes("id") === col("src"), "left")
        .select(nodes("id"), coalesce(col("t"), lit(0L)).as("s"))
        .localCheckpoint(true)
    }
    val a = auth.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = hub.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == Map(1L -> 0L, 2L -> 1L, 3L -> 1L), s"auth $a")
    assert(h == Map(1L -> 1L, 2L -> 1L, 3L -> 0L), s"hub $h")
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
