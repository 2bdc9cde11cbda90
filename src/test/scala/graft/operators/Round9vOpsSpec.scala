package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twenty-first wave (q421-q423):
  * early-sample bias, shuffle displacement, IVF probe cost.
  */
class Round9vOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q421 bias: early window bounded, means inside component range") {
    val rows = Sampling.earlySampleBias(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_early") <= 10L)
      assert(r.getAs[Long]("bias_micro") ==
        r.getAs[Long]("early_mean_micro") -
          r.getAs[Long]("rest_mean_micro"))
      assert(r.getAs[Long]("early_mean_micro") >= 0L)
      assert(r.getAs[Long]("early_mean_micro") <= 1000000L)
    }
    // population: early + rest = the source's docs
    val perSrc = Tables.documents(spark, dir)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_early") + r.getAs[Long]("n_rest") ==
        perSrc(src))
    }
  }

  test("q422 displacement: sane bounds and a genuinely different order") {
    val rows = Sampling.shuffleDisplacement(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val n = r.getAs[Long]("n_docs")
    assert(n == Tables.documents(spark, dir).count())
    val seq = Seq(r.getAs[Long]("min_disp"), r.getAs[Long]("p10_disp"),
      r.getAs[Long]("p50_disp"), r.getAs[Long]("p90_disp"),
      r.getAs[Long]("max_disp"))
    seq.sliding(2).foreach { case Seq(a, b) => assert(a <= b) }
    assert(r.getAs[Long]("max_disp") <= n - 1)
    // two independent orders: the median displacement must be a
    // substantial fraction of N (uniform expectation ~ N/3)
    assert(r.getAs[Long]("p50_disp") > n / 10,
      s"median displacement ${r.getAs[Long]("p50_disp")} vs n=$n")
  }

  test("q423 probe cost: matches a recount from the cell balance") {
    val rows = Similarity.ivfProbeCost(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val cells = Similarity.ivfCellBalance(spark, dir).collect()
    val n = r.getAs[Long]("n_vecs")
    assert(n == cells.map(_.getAs[Long]("n_vecs")).sum)
    val sumSq = cells.map(c => {
      val x = c.getAs[Long]("n_vecs"); x * x
    }).sum
    assert(r.getAs[Long]("probe_cost_ppm") ==
      halfUp(sumSq * 1000000L, n * n))
    // probe cost can never beat the balanced ideal 1/k
    assert(r.getAs[Long]("probe_cost_ppm") >= 1000000L / 8)
    assert(r.getAs[Long]("vs_even_milli") >= 999L)
  }
}
