package graft.functions

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The quantile sketch's exactness contract: the kept bottom-k set is
  * a pure function of the input multiset, so the merge law holds
  * EXACTLY (not approximately) for every split and merge order — the
  * property that makes Spark's arbitrary partitioning and the DuckDB
  * ORDER BY/LIMIT replay agree bit-for-bit. Plus the sampling error
  * bound on real data.
  */
class QuantileSketchSpec extends AnyFunSuite with SparkSpec {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def sketchAll(
      xs: Seq[(Long, Long)]
  ): (Array[Long], Array[Long]) =
    xs.foldLeft(QuantileSketch.zero)(QuantileSketch.reduce)

  private val pairGen: Gen[(Long, Long)] = for {
    h <- Gen.chooseNum(0L, 1000L) // small range → hash ties exercised
    v <- Gen.chooseNum(-500L, 500L)
  } yield (h, v)

  test("merge law: merge(sk(A), sk(B)) == sk(A ++ B), any split") {
    check(Prop.forAll(Gen.listOf(pairGen), Gen.listOf(pairGen)) {
      (a, b) =>
        val merged = QuantileSketch.merge(sketchAll(a), sketchAll(b))
        val direct = sketchAll(a ++ b)
        // commutativity: the other merge order gives the same sketch
        val swapped = QuantileSketch.merge(sketchAll(b), sketchAll(a))
        merged._1.toSeq == direct._1.toSeq &&
        merged._2.toSeq == direct._2.toSeq &&
        swapped._1.toSeq == direct._1.toSeq &&
        swapped._2.toSeq == direct._2.toSeq
    })
  }

  test("reduce order independence: shuffled input, same sketch") {
    check(Prop.forAll(Gen.listOf(pairGen), Gen.long) { (xs, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(xs)
      val a = sketchAll(xs)
      val b = sketchAll(shuffled)
      a._1.toSeq == b._1.toSeq && a._2.toSeq == b._2.toSeq
    })
  }

  test("kept set is exactly the K smallest (hash, value) pairs") {
    val n = 1000
    val xs = (0 until n).map(i =>
      ((i * 2654435761L) % 4096L, (i * 40503L) % 1000L))
    val (hs, vs) = sketchAll(xs)
    assert(hs.length == QuantileSketch.K)
    val expect = xs.sorted.take(QuantileSketch.K)
    assert(hs.zip(vs).toSeq == expect)
    // finish returns the kept VALUES sorted ascending
    assert(QuantileSketch.finish((hs, vs)).toSeq ==
      expect.map(_._2).sorted)
  }

  test("under-k group is exact: finish returns the full sorted multiset") {
    val xs = Seq((5L, 30L), (1L, 10L), (3L, 10L), (2L, -7L))
    assert(QuantileSketch.finish(sketchAll(xs)).toSeq ==
      Seq(-7L, 10L, 10L, 30L))
  }

  test("sampled quantile rank error within 4n/sqrt(k) on lineitem") {
    // deterministic on fixed data + fixed hash: the bottom-256 sample
    // of sf0.001 lineitem prices; for each five-point estimate, its
    // TRUE rank among all n values must sit within 4n/√k of the
    // target rank (Hoeffding at k = 256 → ±n/4; observed ~n/50).
    val dir = "/root/testdata/sf0.001"
    val rows = graft.operators.Sketches
      .quantileSketchAudit(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val prices = graft.Tables
      .lineitem(spark, dir)
      .select(
        org.apache.spark.sql.functions.col("l_returnflag"),
        org.apache.spark.sql.functions
          .round(org.apache.spark.sql.functions.col("l_extendedprice") * 100)
          .cast("long").as("v")
      )
      .collect()
      .groupBy(_.getString(0))
      .view
      .mapValues(_.map(_.getLong(1)).sorted)
      .toMap
    rows.foreach { r =>
      val grp = r.getString(0)
      val n = r.getLong(1)
      val all = prices(grp)
      val tol = 4.0 * n / math.sqrt(QuantileSketch.K)
      for ((estIdx, q) <- Seq(9 -> 0.25, 10 -> 0.5, 11 -> 0.75)) {
        val est = r.getLong(estIdx)
        val trueRank = all.count(_ <= est)
        assert(
          math.abs(trueRank - q * n) <= tol,
          s"$grp q=$q: est $est has true rank $trueRank, " +
            s"target ${q * n} ± $tol"
        )
      }
    }
    graft.util.Caches.releaseAll()
  }
}
