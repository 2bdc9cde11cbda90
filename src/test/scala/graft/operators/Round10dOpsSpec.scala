package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 fourth wave (q454-q456):
  * Cliff's delta, Wilcoxon signed-rank, Page's L.
  */
class Round10dOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q454 cliff: pair counts match a brute-force cross count; " +
    "delta antisymmetry bounds hold") {
    val rows = TextAnalysis.cliffDeltaBySource(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = Tables
      .documents(spark, dir)
      .select(col("source"),
        graft.functions.TextFunctions.qualityMicro(col("text"))
          .as("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val mine = docs.filter(_._1 == src).map(_._2)
      val rest = docs.filter(_._1 != src).map(_._2)
      assert(r.getAs[Long]("n_s") == mine.length.toLong)
      assert(r.getAs[Long]("n_rest") == rest.length.toLong)
      var gt = 0L; var lt = 0L
      for (x <- mine; y <- rest) {
        if (x > y) gt += 1 else if (x < y) lt += 1
      }
      assert(r.getAs[Long]("n_gt") == gt, s"$src gt")
      assert(r.getAs[Long]("n_lt") == lt, s"$src lt")
      assert(math.abs(r.getAs[Long]("delta_milli")) <= 1000L)
      assert(r.getAs[Long]("n_gt") + r.getAs[Long]("n_lt") <=
        r.getAs[Long]("n_s") * r.getAs[Long]("n_rest"))
    }
  }

  test("q455 wilcoxon: rank sums partition n(n+1); signs reconcile " +
    "with a driver-side recomputation") {
    val row = Events.wilcoxonValueDrift(spark, dir).collect()(0)
    val n = row.getAs[Long]("n_pairs")
    val wp = row.getAs[Long]("w_plus_x2")
    val wm = row.getAs[Long]("w_minus_x2")
    assert(n > 0)
    assert(wp + wm == n * (n + 1),
      "double-rank sums must partition n(n+1) exactly")
    // recompute the signed diffs on the driver
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    def halfUpSigned(a: Long, b: Long): Long =
      if (a < 0) -halfUp(-a, b) else halfUp(a, b)
    val ev = Tables
      .events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), round(col("value") * 1e6).cast("long")
          .as("vm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val dms = ev
      .groupBy(_._1)
      .values
      .filter(_.length >= 2)
      .map { es =>
        val sorted = es.sortBy(e => (e._2, e._3)).map(_._4)
        val n1 = sorted.length / 2
        val m1 = halfUp(sorted.take(n1).sum, n1.toLong)
        val m2 = halfUp(sorted.drop(n1).sum,
          (sorted.length - n1).toLong)
        halfUpSigned(m2 - m1, 1000L)
      }
      .filter(_ != 0L)
      .toSeq
    assert(n == dms.length.toLong)
    val pos = dms.count(_ > 0)
    // W+ >= (number of positive diffs) minimal rank mass
    assert(wp >= pos.toLong * 2, "each positive diff carries 2r >= 2")
    val sumVm = dms.map(math.abs).sorted
    // smallest |d| has double-rank 2*1 only if untied
    assert(wp > 0 || pos == 0)
  }

  test("q456 page: L bounds and e_l_x2 identity; complete weeks only") {
    val row = Events.pageTrendWeekday(spark, dir).collect()(0)
    val n = row.getAs[Long]("n_weeks")
    val l = row.getAs[Long]("l_x2")
    assert(n >= 1, "the 30-day window holds complete calendar weeks")
    assert(row.getAs[Long]("e_l_x2") == 224L * n)
    assert(row.getAs[Long]("dev_x2") == l - 224L * n)
    // per-week L contribution is bounded by the extreme orderings:
    // sum j*r over permutations of ranks 1..7 in [dec, inc] order
    val minL = 2L * (1 to 7).map(j => j * (8 - j)).sum // reversed
    val maxL = 2L * (1 to 7).map(j => j * j).sum // aligned
    assert(l >= minL * n && l <= maxL * n)
    // untied ranks per week sum to 2*(1+..+7) = 56; with ties the
    // double-rank sum is invariant, so Σ_w Σ_j r2 = 56·n — implied
    // by the partition identity already pinned in q455; here bound
    // the week count against the calendar span
    val days = Tables
      .events(spark, dir)
      .select((unix_micros(col("ts")) / lit(86400000000L))
        .cast("long").as("d"))
      .distinct()
      .count()
    assert(n <= days / 7 + 1)
  }
}
