package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the apportionment/correlation/PMI batch
  * (q268, q269, q270).
  */
class Round8sOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q268 allocation sums exactly to the budget and is within 1 of quota") {
    val rows = Sampling.budgetApportionment(spark, dir).collect()
    val budget = 10000L
    assert(rows.map(_.getAs[Long]("alloc")).sum == budget)
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    rows.foreach { r =>
      val quota = budget.toDouble * r.getAs[Long]("n_docs") / n
      val alloc = r.getAs[Long]("alloc")
      assert(alloc >= math.floor(quota).toLong &&
        alloc <= math.ceil(quota).toLong,
        s"${r.getAs[String]("source")}/${r.getAs[String]("lang")}")
      assert(r.getAs[Long]("base") == math.floor(quota).toLong)
    }
    // bonus seats equal budget minus the floor sum
    val bonuses = rows.count(_.getAs[Boolean]("bonus"))
    assert(bonuses.toLong ==
      budget - rows.map(_.getAs[Long]("base")).sum)
  }

  test("q269 lag-0 correlation is symmetric and recounts for one pair") {
    val rows = Events.crossCorrelation(spark, dir).collect()
    rows.foreach { r =>
      val c = r.getAs[Long]("corr_micro")
      assert(c >= -1000001L && c <= 1000001L)
    }
    // corr(a,b,0) == corr(b,a,0) — symmetric at lag 0
    val at0 = rows
      .filter(_.getAs[Long]("lag_h") == 0L)
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        r.getAs[Long]("corr_micro"))
      .toMap
    at0.foreach { case ((a, b), c) =>
      assert(at0((b, a)) == c, s"asymmetric at lag 0: $a/$b")
    }
    // corr(a,b,lag) == corr(b,a,-lag)
    val all = rows
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b"),
        r.getAs[Long]("lag_h")) -> r.getAs[Long]("corr_micro"))
      .toMap
    all.foreach { case ((a, b, l), c) =>
      assert(all((b, a, -l)) == c, s"mirror mismatch $a/$b/$l")
    }
  }

  test("q270 PMI recounts from driver-side sessionization") {
    val rows = Events.sessionTypePmi(spark, dir).collect()
    val events = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("us"), r.getAs[String]("event_type")))
    val sessions = events
      .groupBy(_._1)
      .toSeq
      .flatMap { case (u, es) =>
        val ordered = es.sortBy(e => (e._3, e._2))
        var seq = 0L
        var prev = Long.MinValue
        ordered.map { e =>
          if (prev == Long.MinValue || e._3 - prev > 30L * 60 * 1000000) seq += 1
          prev = e._3
          ((u, seq), e._4)
        }
      }
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val s = sessions.size.toLong
    val typeCount = sessions.values.toSeq.flatten.groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    rows.foreach { r =>
      val a = r.getAs[String]("type_a"); val b = r.getAs[String]("type_b")
      val nab = sessions.values.count(ts => ts(a) && ts(b)).toLong
      assert(r.getAs[Long]("n_ab") == nab, s"$a/$b")
      assert(r.getAs[Long]("n_a") == typeCount(a))
      assert(r.getAs[Long]("n_b") == typeCount(b))
      val pmi = math.log(nab.toDouble * s / (typeCount(a) * typeCount(b)))
      assert(math.abs(r.getAs[Long]("pmi_micro") - pmi * 1e6) <= 2.0)
    }
  }
}
