package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twenty-third wave (q427-q429):
  * active days, weekday profile, id density.
  */
class Round9xOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q427 bands: users and events both fully partitioned") {
    val rows = Events.activeDaysBands(spark, dir).collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, dir)
      .select(col("user_id")).distinct().count()
    val nEvents = Tables.events(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == nUsers)
    assert(rows.map(_.getAs[Long]("n_events")).sum == nEvents)
    rows.foreach { r =>
      assert(r.getAs[Long]("user_ppm") ==
        halfUp(r.getAs[Long]("n_users") * 1000000L, nUsers))
    }
  }

  test("q428 weekday: integer calendar matches java.time on knowns") {
    val rows = Relational.orderWeekdayProfile(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_orders")).sum ==
      Tables.orders(spark, dir).count())
    rows.foreach(r => assert((0L to 6L).contains(r.getAs[Long]("weekday"))))
    // known anchors: 1970-01-01 (day 0) is Thursday -> (0+4)%7 = 4;
    // 2024-01-01 is a Monday -> epoch day 19723 -> (19723+4)%7 = 1
    assert((0L + 4) % 7 == 4) // Thursday
    assert((19723L + 4) % 7 == 1) // Monday
    assert(java.time.LocalDate.of(2024, 1, 1).getDayOfWeek ==
      java.time.DayOfWeek.MONDAY)
    assert(java.time.LocalDate.of(2024, 1, 1).toEpochDay == 19723L)
  }

  test("q429 density: three tables, unique ids, exact gap math") {
    val rows = Relational.idDensityAudit(spark, dir).collect()
    assert(rows.map(_.getAs[String]("table_name")).sorted.sameElements(
      Array("documents", "events", "orders")))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dup_ids") ==
        r.getAs[Long]("n_rows") - r.getAs[Long]("n_distinct"))
      assert(r.getAs[Long]("n_gaps") ==
        r.getAs[Long]("max_id") - r.getAs[Long]("min_id") + 1 -
          r.getAs[Long]("n_distinct"))
      assert(r.getAs[Long]("density_ppm") <= 1000000L)
      // ids are unique in this generator
      assert(r.getAs[Long]("n_dup_ids") == 0L,
        s"${r.getAs[String]("table_name")} ids should be unique")
    }
  }
}
