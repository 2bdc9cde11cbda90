package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Dir-scoped view registration for the spark.sql subquery surface:
  * two callers on different data dirs in one session must not clobber
  * each other's views, even when their invocations interleave.
  */
class SubqueriesSpec extends AnyFunSuite with SparkSpec {

  test("interleaved invocations on different dirs stay independent") {
    val small = "/root/testdata/sf0.001"
    val big = "/root/testdata/sf0.01"
    // construct BOTH plans before collecting EITHER: with global view
    // names, the second registration would rebind the first plan's
    // views to the other dir before execution
    val dSmall = Subqueries.customerOrderDistribution(spark, small)
    val dBig = Subqueries.customerOrderDistribution(spark, big)
    val nSmall = dSmall.agg(org.apache.spark.sql.functions.sum("custdist"))
      .collect()(0).getLong(0)
    val nBig = dBig.agg(org.apache.spark.sql.functions.sum("custdist"))
      .collect()(0).getLong(0)
    val custSmall = graft.Tables.table(spark, small, "customer").count()
    val custBig = graft.Tables.table(spark, big, "customer").count()
    assert(nSmall == custSmall, s"small dir drifted: $nSmall vs $custSmall")
    assert(nBig == custBig, s"big dir drifted: $nBig vs $custBig")
    assert(custSmall != custBig, "fixture dirs must differ for this test")
  }

  test("view tags derive from the absolute path, not a 32-bit hash") {
    // same dir spelled differently resolves to one tag's views; the
    // query still runs (idempotent re-registration)
    val viaRelative = Subqueries
      .topRevenueSupplier(spark, "/root/testdata/sf0.001")
      .count()
    val viaDot = Subqueries
      .topRevenueSupplier(spark, "/root/testdata/./sf0.001")
      .count()
    assert(viaRelative == viaDot)
  }
}
