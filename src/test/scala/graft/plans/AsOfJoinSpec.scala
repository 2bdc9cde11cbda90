package graft.plans

import graft.SparkSpec
import graft.operators.Events
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native as-of join (AsOfJoin logical node → AsOfJoinExec via
  * the injected planner strategy) against its window-merge executable
  * spec, plus plan-shape and edge-semantics pins.
  */
class AsOfJoinSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("native as-of join is row-identical to the window-merge form") {
    val native = Events
      .purchaseAfterErrorNative(spark, dir)
      .collect()
      .map(_.toSeq.map(String.valueOf))
      .sortBy(_.mkString("|"))
    val windowed = Events
      .purchaseAfterError(spark, dir)
      .collect()
      .map(_.toSeq.map(String.valueOf))
      .sortBy(_.mkString("|"))
    assert(native.length == windowed.length && native.nonEmpty)
    assert(native.toSeq == windowed.toSeq)
  }

  test("plan: AsOfJoinExec with co-partitioned, sorted children") {
    val df = Events.purchaseAfterErrorNative(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin ["), "AsOfJoinExec node planned")
    assert(p.contains("hashpartitioning(user_id"))
    assert(p.contains("hashpartitioning(err_user"))
    assert(p.contains("Sort ["))
  }

  test("left rows with no prior right row get nulls, never drop") {
    import spark.implicits._
    val left = Seq((1L, 10L, 5.0), (1L, 1L, 6.0), (2L, 3L, 7.0))
      .toDF("k", "t", "v")
    val right = Seq((1L, 2L, 0.5), (1L, 9L, 0.7), (3L, 1L, 0.9))
      .toDF("rk", "rt", "rv")
    val out = AsOf
      .join(left, right, Seq("k"), Seq("rk"), Seq("t"), Seq("rt"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
      .toSet
    // k=1,t=10 → last prior rt=9; k=1,t=1 → none; k=2 → key absent
    assert(out == Set((1L, 10L, 9L), (1L, 1L, -1L), (2L, 3L, -1L)))
  }

  test("property: native join matches a reference merge on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 5) {
      val nKeys = 1 + rnd.nextInt(6)
      val left = Seq.fill(30 + rnd.nextInt(60))(
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, rnd.nextLong())
      ).zipWithIndex.map { case ((k, t, v), i) => (k, t, i.toLong, v) }
      val right = Seq.fill(rnd.nextInt(60))(
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong)
      ).zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val lDf = left.toDF("k", "t", "lid", "v")
        .repartition(3 + rnd.nextInt(3))
      val rDf = right.toDF("rk", "rt", "rid")
        .repartition(2 + rnd.nextInt(4))
      val got = AsOf
        .join(lDf, rDf, Seq("k"), Seq("rk"), Seq("t", "lid"), Seq("rt", "rid"))
        .collect()
        .map(r => (r.getLong(2),
          if (r.isNullAt(6)) None else Some(r.getLong(6))))
        .toMap
      // reference: per left row, max (rt, rid) strictly below (t, lid)
      val expected = left.map { case (k, t, lid, _) =>
        lid -> right
          .filter { case (rk, rt, rid) =>
            rk == k && (rt < t || (rt == t && rid < lid))
          }
          .sortBy { case (_, rt, rid) => (rt, rid) }
          .lastOption
          .map(_._3)
      }.toMap
      assert(got == expected, s"trial $trial diverged")
    }
  }

  test("null keys group together (window-partition semantics, not equi-join)") {
    import spark.implicits._
    val left = Seq((Some(1L), 10L), (None, 10L))
      .toDF("k", "t")
    val right = Seq((Option.empty[Long], 5L, 42L)).toDF("rk", "rt", "rv")
    val out = AsOf
      .join(left, right, Seq("k"), Seq("rk"), Seq("t"), Seq("rt"))
      .collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
      .toSet
    // the null-key left row matches the null-key right row — same
    // grouping the window form's partitionBy(user_id) applies; the
    // k=1 row has no match
    assert(out == Set((-1L, 42L), (1L, -1L)))
  }

  test("ties in the order tuple are strict (no self-time match)") {
    import spark.implicits._
    val left = Seq((1L, 5L, 1L)).toDF("k", "t", "id")
    val right = Seq((1L, 5L, 0L), (1L, 5L, 2L)).toDF("rk", "rt", "rid")
    val out = AsOf
      .join(left, right, Seq("k"), Seq("rk"), Seq("t", "id"), Seq("rt", "rid"))
      .collect()
    // only (rt=5, rid=0) is strictly below (t=5, id=1)
    assert(out.length == 1 && out(0).getLong(5) == 0L)
  }

  test("duplicate right-side (key, order) tuples raise a clear error") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    // two right rows with identical (key, order) but different
    // payloads: "last prior row" would be run-dependent
    val right = Seq((1L, 5L, 100L), (1L, 5L, 200L)).toDF("rk", "rt", "rv")
    val ex = intercept[Exception] {
      AsOf.join(left, right, Seq("k"), Seq("rk"), Seq("t"), Seq("rt"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("duplicate right-side")),
      s"expected the duplicate-tuple error, got: $ex")
    // the same payloads become deterministic once a unique
    // tie-breaker joins the right-side order tuple
    val out = AsOf
      .join(left, right, Seq("k"), Seq("rk"), Seq("t", "t"),
        Seq("rt", "rv"))
      .collect()
    assert(out.length == 1 && out(0).getLong(4) == 200L)
  }
}
