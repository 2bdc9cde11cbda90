package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 eighth wave (q465-q466):
  * BFS levels, lexicon islands.
  */
class Round10hOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q465 BFS: levels match a driver-side breadth-first search") {
    val rows = Relational.bfsLevels(spark, dir).collect()
    assert(rows.nonEmpty)
    // driver-side BFS ground truth
    val op = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
      .collect()
      .groupBy(_.getLong(0))
      .values
      .map(_.map(_.getLong(1)).distinct.sorted)
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Long]]
    op.foreach { ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length) {
        adj.getOrElseUpdate(ps(i),
          scala.collection.mutable.Set.empty) += ps(j)
        adj.getOrElseUpdate(ps(j),
          scala.collection.mutable.Set.empty) += ps(i)
      }
    }
    val seed = adj.keys.min
    val dist = scala.collection.mutable.Map(seed -> 0L)
    var frontier = Set(seed)
    var lvl = 1L
    while (frontier.nonEmpty && lvl <= 20) {
      frontier = frontier
        .flatMap(adj(_))
        .filterNot(dist.contains)
      frontier.foreach(dist(_) = lvl)
      lvl += 1
    }
    val want = adj.keys.toSeq
      .map(n => dist.getOrElse(n, -1L))
      .groupBy(identity)
      .map { case (l, ns) => l -> ns.size.toLong }
    val got = rows
      .map(r => r.getAs[Long]("lvl") -> r.getAs[Long]("n_nodes"))
      .toMap
    assert(got == want, s"got $got want $want")
  }

  test("q466 islands: census reconciles with a driver union-find " +
    "over the repeated-bigram graph") {
    val row = TextAnalysis.lexiconIslands(spark, dir).collect()(0)
    // driver ground truth
    val texts = Tables
      .documents(spark, dir)
      .select(col("text"))
      .collect()
      .map(_.getString(0))
    val counts = scala.collection.mutable.Map
      .empty[(String, String), Long]
    texts.foreach { t =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      toks.sliding(2).foreach {
        case Array(x, y) if x != y =>
          val k = if (x < y) (x, y) else (y, x)
          counts(k) = counts.getOrElse(k, 0L) + 1
        case _ =>
      }
    }
    val edges = counts.filter(_._2 >= 3).keys.toSeq
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(row.getAs[Long]("n_edges") == edges.length.toLong)
    assert(row.getAs[Long]("n_tokens") == nodes.length.toLong)
    val parent = scala.collection.mutable.Map(
      nodes.map(n => n -> n): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb)
        parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    val comps = nodes.groupBy(find).values.map(_.size.toLong)
    assert(row.getAs[Long]("n_islands") == comps.size.toLong)
    assert(row.getAs[Long]("max_island") ==
      (if (comps.isEmpty) 0L else comps.max))
  }
}
