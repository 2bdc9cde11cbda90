package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 eleventh wave (q472-q473):
  * positional skew, cluster radius.
  */
class Round10kOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q472: exactly the top-20 tokens; decile masses and chi2 " +
    "reconcile with a driver recomputation") {
    val rows = TextAnalysis.positionalSkew(spark, dir).collect()
    assert(rows.length == 20)
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    val texts = Tables
      .documents(spark, dir)
      .select(col("text"))
      .collect()
      .map(_.getString(0))
    val occ = texts.flatMap { t =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      toks.zipWithIndex.map { case (w, i) =>
        (w, i.toLong * 10 / toks.length)
      }
    }
    val counts = occ.groupBy(_._1).map { case (w, os) =>
      w -> os.length.toLong
    }
    val top20 = counts.toSeq.sortBy(t => (-t._2, t._1)).take(20)
    assert(rows.map(_.getAs[String]("token")).toSet ==
      top20.map(_._1).toSet)
    rows.foreach { r =>
      val w = r.getAs[String]("token")
      val n = counts(w)
      assert(r.getAs[Long]("n_occ") == n)
      val byD = occ.filter(_._1 == w).groupBy(_._2)
        .map { case (d, os) => d -> os.length.toLong }
      val (topD, topO) = byD.toSeq.sortBy(t => (-t._2, t._1)).head
      assert(r.getAs[Long]("top_decile") == topD)
      assert(r.getAs[Long]("top_decile_ppm") ==
        halfUp(topO * 1000000L, n))
      val s = (0L to 9L).map { d =>
        val o = byD.getOrElse(d, 0L)
        (10 * o - n) * (10 * o - n)
      }.sum
      assert(r.getAs[Long]("uniform_dev_milli") ==
        halfUp(100L * s, n))
    }
  }

  test("q473: radius census reconciles with driver BFS per cluster; " +
    "doc mass equals the clustered population") {
    val rows = Dedup.clusterRadiusCensus(spark, dir).collect()
    assert(rows.nonEmpty)
    val pairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Long]]
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a,
        scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b,
        scala.collection.mutable.Set.empty) += a
    }
    // driver union-find for labels
    val nodes = adj.keys.toSeq
    val parent = scala.collection.mutable.Map(
      nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clusters = nodes.groupBy(n => nodes.filter(
      m => find(m) == find(n)).min)
    // BFS radius from each cluster's min id
    val want = clusters.toSeq.map { case (seed, members) =>
      val dist = scala.collection.mutable.Map(seed -> 0L)
      var frontier = Set(seed)
      var lvl = 1L
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
        frontier.foreach(dist(_) = lvl)
        lvl += 1
      }
      (dist.values.max, members.length.toLong)
    }
    val wantCensus = want
      .groupBy(_._1)
      .map { case (r, cs) =>
        r -> (cs.length.toLong, cs.map(_._2).sum)
      }
    val got = rows.map(r => r.getAs[Long]("radius") ->
      (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"))).toMap
    assert(got == wantCensus, s"got $got want $wantCensus")
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      adj.size.toLong)
  }
}
