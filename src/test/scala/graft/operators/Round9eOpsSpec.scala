package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 fourth wave (q370-q372):
  * quality bands, Simpson concentration, referential integrity.
  */
class Round9eOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q370 bands: ordered percentiles, exact rank-pick recount") {
    val rows = TextAnalysis.qualityBandsByLang(spark, dir).collect()
    assert(rows.nonEmpty)
    val q = TextAnalysis
      .qualityMicroScores(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("q_micro"))
      .toMap
    val byLang = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .groupBy(_._1)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val xs = byLang(lang)
        .map { case (_, id) => (q(id), id) }
        .sorted
        .map(_._1)
      val n = xs.length
      def pick(p: Int): Long = xs(math.ceil(n * p / 100.0).toInt - 1)
      assert(r.getAs[Long]("n_docs") == n.toLong)
      assert(r.getAs[Long]("p10_micro") == pick(10), s"$lang p10")
      assert(r.getAs[Long]("p50_micro") == pick(50), s"$lang p50")
      assert(r.getAs[Long]("p90_micro") == pick(90), s"$lang p90")
      assert(r.getAs[Long]("p10_micro") <= r.getAs[Long]("p50_micro"))
      assert(r.getAs[Long]("p50_micro") <= r.getAs[Long]("p90_micro"))
    }
  }

  test("q371 Simpson: in [0, 1e6], equals a driver recount") {
    val rows = TextAnalysis.simpsonConcentration(spark, dir).collect()
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    rows.foreach { r =>
      val cp = r.getAs[Long]("coincidence_pairs")
      val n = r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("simpson_ppm") ==
        halfUp(cp * 1000000L, n * (n - 1)))
      assert(r.getAs[Long]("simpson_ppm") <= 1000000L)
      // with the 31-word synthetic vocabulary, concentration is far
      // from zero: at uniform 31 types lambda ~ 1/31 ~ 32258 ppm
      assert(r.getAs[Long]("simpson_ppm") >= 10000L)
      assert(r.getAs[Long]("n_types") >= 1L)
    }
  }

  test("q372 integrity: TPC-H-ish generator produces a clean spine") {
    val rows = Relational
      .referentialIntegrity(spark, dir)
      .collect()
      .map(r => r.getAs[String]("check") ->
        (r.getAs[Long]("n_bad"), r.getAs[Long]("n_total"),
          r.getAs[Long]("bad_ppm")))
      .toMap
    assert(rows.keySet == Set("lineitem_orphans", "childless_orders",
      "orderless_customers", "dangling_orders"))
    // the generated spine is referentially clean on the child side
    assert(rows("lineitem_orphans")._1 == 0L)
    assert(rows("dangling_orders")._1 == 0L)
    rows.values.foreach { case (bad, total, ppm) =>
      assert(bad <= total)
      assert(ppm <= 1000000L)
    }
  }
}
