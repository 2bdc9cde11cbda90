package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 sixteenth wave (q406-q408):
  * association rules, eval representativeness, load-error τ.
  */
class Round9qOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q406 rules: metrics exact from supports; confidence bounded") {
    val rows = Relational.associationRules(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val sup = r.getAs[Long]("support")
      val sa = r.getAs[Long]("s_a")
      val sb = r.getAs[Long]("s_b")
      assert(sup >= 2L && sup <= math.min(sa, sb))
      assert(r.getAs[Long]("conf_ab_milli") == halfUp(sup * 1000L, sa))
      assert(r.getAs[Long]("conf_ba_milli") == halfUp(sup * 1000L, sb))
      assert(r.getAs[Long]("conf_ab_milli") <= 1000L)
      assert(r.getAs[Long]("conf_ba_milli") <= 1000L)
    }
    // ranked by lift desc
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("lift_milli") >= b.getAs[Long]("lift_milli"))
      case _ =>
    }
  }

  test("q407 representativeness: cells partition both populations") {
    val rows = Sampling.evalRepresentativeness(spark, dir).collect()
    assert(rows.nonEmpty)
    val nEval = Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 === 0).count()
    val nTrain = Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 =!= 0).count()
    assert(rows.map(_.getAs[Long]("n_eval")).sum == nEval)
    assert(rows.map(_.getAs[Long]("n_train")).sum == nTrain)
    rows.foreach { r =>
      assert(r.getAs[Long]("gap_ppm") ==
        r.getAs[Long]("eval_share_ppm") - r.getAs[Long]("train_share_ppm"))
    }
    // shares each sum to ~1e6
    val se = rows.map(_.getAs[Long]("eval_share_ppm")).sum
    val st = rows.map(_.getAs[Long]("train_share_ppm")).sum
    assert(math.abs(se - 1000000L) <= rows.length.toLong)
    assert(math.abs(st - 1000000L) <= rows.length.toLong)
  }

  test("q408 concordance: partition of hour pairs, driver recount") {
    val rows = Events.loadErrorConcordance(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val parts = r.getAs[Long]("concordant") + r.getAs[Long]("discordant") +
      r.getAs[Long]("ties")
    assert(parts == r.getAs[Long]("n_pairs"))
    assert(r.getAs[Long]("tau_num") ==
      r.getAs[Long]("concordant") - r.getAs[Long]("discordant"))
    // driver recount
    val hourly = Tables.events(spark, dir)
      .select((unix_micros(col("ts")) / 3600000000L).cast("long").as("hour"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
      .groupBy("hour")
      .agg(count(lit(1)).as("v"), sum(col("e")).as("er"))
      .collect()
      .map(x => (x.getAs[Long]("hour"), x.getAs[Long]("v"),
        x.getAs[Long]("er")))
      .sortBy(_._1)
    var c, d = 0L
    for (i <- hourly.indices; j <- (i + 1) until hourly.length) {
      val dv = hourly(i)._2 - hourly(j)._2
      val de = hourly(i)._3 - hourly(j)._3
      if (dv != 0 && de != 0) {
        if ((dv > 0) == (de > 0)) c += 1 else d += 1
      }
    }
    assert(r.getAs[Long]("concordant") == c)
    assert(r.getAs[Long]("discordant") == d)
  }
}
