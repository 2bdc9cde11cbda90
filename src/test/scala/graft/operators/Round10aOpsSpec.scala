package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 first wave (q445-q447):
  * co-purchase triangles, per-source Spearman rho, Pettitt
  * changepoint.
  */
class Round10aOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q445 triangles: census reconciles with a brute-force count") {
    val row = Relational.coPurchaseTriangles(spark, dir).collect()(0)
    val nNodes = row.getAs[Long]("n_nodes")
    val nEdges = row.getAs[Long]("n_edges")
    val nWedges = row.getAs[Long]("n_wedges")
    val nTri = row.getAs[Long]("n_triangles")
    assert(nNodes > 0 && nEdges > 0)
    // brute-force ground truth on the sf0.001 edge set
    val op = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
      .collect()
      .groupBy(_.getLong(0))
      .values
      .map(_.map(_.getLong(1)).distinct.sorted)
    val edges = op
      .flatMap(ps => for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j)))
      .toSet
    assert(nEdges == edges.size.toLong)
    val adj = edges
      .toSeq
      .flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    assert(nNodes == adj.size.toLong)
    val wedges = adj.values.map(s =>
      s.size.toLong * (s.size - 1) / 2).sum
    assert(nWedges == wedges)
    val tri = edges.toSeq.map { case (u, v) =>
      (adj(u) intersect adj(v)).size.toLong
    }.sum / 3
    assert(nTri == tri, s"triangles: got $nTri want $tri")
    // closure is 3T/wedges; every triangle contains 3 wedges
    assert(row.getAs[Long]("closure_ppm") ==
      halfUp(3 * nTri * 1000000L, math.max(nWedges, 1L)))
    assert(3 * nTri <= nWedges)
  }

  test("q446 spearman: exact rho on a hand-ranked source") {
    val rows = TextAnalysis.spearmanLengthQuality(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val d2x4 = r.getAs[Long]("sum_d2_x4")
      val rho = r.getAs[Long]("rho_milli")
      assert(rho <= 1000L && rho >= -1100L,
        s"rho out of (tie-tolerant) range: $rho")
      val den = n * (n * n - 1)
      if (den > 0) {
        val num = 1000L * den - 1500L * d2x4
        val expect =
          if (num < 0) -halfUp(-num, den) else halfUp(num, den)
        assert(rho == expect)
      } else assert(rho == 0L || d2x4 == 0L)
    }
    // independent recomputation of one source's d2 sum via
    // tie-averaged ranks on the driver
    val docs = Tables
      .documents(spark, dir)
      .select(col("source"), col("n_chars"),
        graft.functions.TextFunctions.qualityMicro(col("text"))
          .as("q"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val src = docs.head._1
    val sub = docs.filter(_._1 == src)
    def ranks2(vs: Seq[Long]): Map[Long, Long] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val before = sorted.count(_ < v).toLong
        val ties = sorted.count(_ == v).toLong
        v -> (2 * before + ties + 1)
      }.toMap
    }
    val lr = ranks2(sub.map(_._2))
    val qr = ranks2(sub.map(_._3))
    val d2 = sub.map(t => {
      val d = lr(t._2) - qr(t._3); d * d
    }).sum
    val got = rows.find(_.getAs[String]("source") == src).get
    assert(got.getAs[Long]("n_docs") == sub.length.toLong)
    assert(got.getAs[Long]("sum_d2_x4") == d2)
  }

  test("q447 pettitt: U_t matches the pairwise-sign definition") {
    val row = Events.pettittChangepoint(spark, dir).collect()(0)
    val n = row.getAs[Long]("n_days")
    val tStar = row.getAs[Long]("t_star_day")
    val k = row.getAs[Long]("k_stat")
    assert(n > 1)
    assert(k >= 0 && math.abs(row.getAs[Long]("u_at_tstar")) == k)
    // ground truth: U_t = sum_{i<=t} sum_{j>t} sign(x_i - x_j)
    // equals the rank form used by the operator (Pettitt 1979).
    val daily = Tables
      .events(spark, dir)
      .select((unix_micros(col("ts")) / lit(86400000000L))
        .cast("long").as("d"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val xs = daily.map(_._2)
    def u(t: Int): Long = {
      var s = 0L
      for (i <- 0 until t; j <- t until xs.length)
        s += java.lang.Long.signum(xs(i) - xs(j))
      s
    }
    val us = (1 until xs.length).map(t => (daily(t - 1)._1, u(t)))
    val kTruth = us.map(p => math.abs(p._2)).max
    val tTruth = us.filter(p => math.abs(p._2) == kTruth).minBy(_._1)._1
    assert(k == kTruth, s"K: got $k want $kTruth")
    assert(tStar == tTruth)
    // the float significance transform lives here, not in the
    // hashed surface: p ~= 2 exp(-6K^2 / (n^3 + n^2))
    val p = 2.0 * math.exp(-6.0 * k * k / (n.toDouble * n * n + n * n))
    assert(p >= 0.0 && p <= 2.0)
  }
}
