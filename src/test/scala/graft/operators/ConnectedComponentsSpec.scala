package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ConnectedComponents must agree with a driver-side union-find on
  * random graphs (seeded) and on adversarial shapes: chains (worst
  * diameter), singletons, duplicate/self-loop edges, merging stars.
  */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSpec {

  /** Reference union-find. */
  private def ufLabels(
      nodes: Seq[Long],
      edges: Seq[(Long, Long)]
  ): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // root to min member
    val minOfRoot = nodes.groupBy(find).map { case (r, ms) => r -> ms.min }
    nodes.map(n => n -> minOfRoot(find(n))).toMap
  }

  private def check(nodes: Seq[Long], edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val n = nodes.toDF("id")
    val e = edges.toDF("src", "dst")
    val got = ConnectedComponents
      .run(n, e)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == ufLabels(nodes, edges))
  }

  test("empty edge set: every node is its own cluster") {
    check(Seq(1L, 2L, 3L), Seq.empty)
  }

  test("chain (worst-case diameter) collapses to the minimum") {
    val n = (0L until 64L)
    check(n, n.sliding(2).map(s => (s(1), s(0))).toSeq)
    // next to 400 near-dup clusters (a 5-node star each), a 1024-node
    // chain: plain label propagation would need 1023 rounds, pointer
    // doubling closes it in a logarithmic number
    import spark.implicits._
    val stars = (0L until 2000L).filter(_ % 5 != 0).map(i => (i, i - i % 5))
    val chain = (2000L until 3023L).map(i => (i, i + 1))
    val nodes = 0L until 3024L
    val (labels, rounds) = ConnectedComponents
      .runWithStats(nodes.toDF("id"), (stars ++ chain).toDF("src", "dst"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ufLabels(nodes, stars ++ chain))
    assert(got.values.toSet.size == 401)
    assert(rounds <= 12, s"$rounds rounds for a 1023-hop chain")
  }

  test("two stars merged by one bridge edge") {
    val edges = Seq.tabulate(5)(i => (100L, 101L + i)) ++
      Seq.tabulate(5)(i => (200L, 201L + i)) :+ (105L, 205L)
    check(edges.flatMap(e => Seq(e._1, e._2)).distinct :+ 999L, edges)
  }

  test("self-loops and duplicate edges are harmless") {
    check(Seq(1L, 2L, 3L), Seq((1L, 1L), (2L, 3L), (3L, 2L), (2L, 3L)))
  }

  test("multi-signal closure merges text-only and embedding-only members (q165)") {
    // per source 8 members: text edges join members 0-4, embedding
    // edges members 3-7. Either signal alone leaves two 5-member
    // clusters apart; their union closes all 8 through members 3-4,
    // and no cluster runs past its source
    import spark.implicits._
    def clique(ms: Seq[Long]) =
      for (a <- ms; b <- ms if a < b) yield (a, b)
    val sources = 0L until 100L
    val text = sources.flatMap(s => clique((0L to 4L).map(8 * s + _)))
    val emb = sources.flatMap(s => clique((3L to 7L).map(8 * s + _)))
    val nodes = (0L until 800L).toDF("id")
    def sizes(edges: Seq[(Long, Long)]): Map[Long, Int] =
      ConnectedComponents
        .run(nodes, edges.toDF("src", "dst"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 2)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1).toInt)
        .toMap
    assert(sizes(text).values.toSet == Set(5) && sizes(text).size == 100)
    val union = sizes((text ++ emb).distinct)
    assert(union.size == 100 && union.values.forall(_ == 8), union)
  }

  test("random graphs match union-find (seeded)") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 200
      val nodes = (0L until n.toLong)
      val edges = Seq.fill(150)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      )
      check(nodes, edges)
    }
  }
}
