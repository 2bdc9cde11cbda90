package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 nineteenth wave (q415-q417):
  * sequence violations, supplier load, dedup idempotence.
  */
class Round9tOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q415 violations: driver recount of the purchase<signup rule") {
    val rows = Events.sequenceViolations(spark, dir).collect()
    assert(rows.map(_.getAs[String]("rule")).sorted.sameElements(
      Array("click_before_view", "purchase_before_signup")))
    val firsts = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("f"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getAs[Long]("f"))
      .toMap
    val users = firsts.keys.map(_._1).toSet
    val both = users.filter(u =>
      firsts.contains((u, "signup")) && firsts.contains((u, "purchase")))
    val viol = both.count(u => firsts((u, "purchase")) < firsts((u, "signup")))
    val r1 = rows.find(_.getAs[String]("rule") == "purchase_before_signup").get
    assert(r1.getAs[Long]("n_users_with_both") == both.size.toLong)
    assert(r1.getAs[Long]("n_violations") == viol.toLong)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_violations") <=
        r.getAs[Long]("n_users_with_both"))
      assert(r.getAs[Long]("violation_ppm") ==
        halfUp(r.getAs[Long]("n_violations") * 1000000L,
          math.max(r.getAs[Long]("n_users_with_both"), 1L)))
    }
  }

  test("q416 supplier load: picks ordered, totals reconcile") {
    val rows = Relational.supplierLoadProfile(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val seq = Seq(r.getAs[Long]("min_lines"), r.getAs[Long]("p50_lines"),
      r.getAs[Long]("p90_lines"), r.getAs[Long]("max_lines"))
    seq.sliding(2).foreach { case Seq(a, b) => assert(a <= b) }
    assert(r.getAs[Long]("n_lines") ==
      Tables.lineitem(spark, dir).count())
    assert(r.getAs[Long]("n_suppliers") ==
      Tables.lineitem(spark, dir)
        .select(col("l_suppkey")).distinct().count())
    assert(r.getAs[Long]("top_share_ppm") ==
      halfUp(r.getAs[Long]("max_lines") * 1000000L,
        r.getAs[Long]("n_lines")))
  }

  test("q417 idempotence: zero surviving edges at both thresholds") {
    val rows = Dedup.dedupIdempotence(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    // THE invariant: a second dedup pass would find nothing
    assert(r.getAs[Long]("surviving_edges_closure") == 0L)
    assert(r.getAs[Long]("surviving_edges_dedup") == 0L)
    assert(r.getAs[Long]("n_survivors") <= r.getAs[Long]("n_docs"))
    assert(r.getAs[Long]("n_survivors") >= 1L)
    // survivor count matches the label seam
    val surv = Dedup.dedupClusters(spark, dir)
      .filter(col("survivor") === 1).count()
    assert(r.getAs[Long]("n_survivors") == surv)
  }
}
