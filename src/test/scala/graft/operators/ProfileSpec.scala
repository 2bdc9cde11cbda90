package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("profile rows cover each column with zero nulls in test data") {
    val rows = Profile
      .lineitemProfile(spark, dir)
      .collect()
      .map(r => r.getAs[String]("column_name") -> r)
      .toMap
    assert(rows.keySet == Set("l_quantity", "l_extendedprice",
      "l_returnflag", "l_orderkey"))
    assert(rows.values.forall(_.getAs[Long]("n_null") == 0L))
    assert(rows("l_returnflag").getAs[Long]("n_distinct") == 3L)
  }

  test("HLL sketch cardinality stays inside its error bound") {
    // the gate hashes only the exact register state; the estimate is
    // derived HERE from those registers (round-9 convention) and
    // checked against exact within 2σ = 2·1.04/√m, with Spark's
    // built-in HLL++ as an independent cross-check
    val r = Profile.cardinalitySketch(spark, dir).collect()(0)
    val exact = r.getAs[Long]("exact").toDouble
    val m = r.getAs[Long]("m").toDouble
    val nZero = r.getAs[Long]("n_zero_registers").toDouble
    val sumT = r.getAs[Long]("sum_t").toDouble
    val sInv = (sumT + nZero * math.pow(2.0, 53)) / math.pow(2.0, 53)
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m * m / sInv
    // small-range correction (linear counting) when raw <= 2.5m
    val est =
      if (raw <= 2.5 * m && nZero > 0) m * math.log(m / nZero) else raw
    val sigma = 1.04 / math.sqrt(m)
    assert(math.abs(est - exact) / exact <= 2 * sigma,
      s"est=$est exact=$exact")
    // independent cross-check: Spark's own HLL++ lands in the same
    // neighborhood on the same column
    import org.apache.spark.sql.functions.{approx_count_distinct, col}
    val builtin = graft.Tables
      .lineitem(spark, dir)
      .agg(approx_count_distinct(col("l_orderkey")).as("a"))
      .head()
      .getLong(0)
      .toDouble
    assert(math.abs(builtin - exact) / exact < 0.10)
  }

  test("KMV sketch: exact below k, inside ~2/sqrt(k) above, merge-stable") {
    import graft.functions.KmvSketch
    // below k the sketch is exact
    val small = (1L to 100L).foldLeft(KmvSketch.zero)(KmvSketch.reduce)
    assert(KmvSketch.finish(small) == 100.0)
    // duplicates don't inflate
    val dup = (1L to 100L).foldLeft(small)(KmvSketch.reduce)
    assert(KmvSketch.finish(dup) == 100.0)
    // above k: estimate within ~2/sqrt(k) relative error for a
    // deterministic well-spread hash stream
    val n = 50000
    val hashes = (1 to n).map { i =>
      var h = i.toLong * 0x9e3779b97f4a7c15L
      h ^= (h >>> 32); (h & ((1L << 60) - 1))
    }
    val full = hashes.foldLeft(KmvSketch.zero)(KmvSketch.reduce)
    val est = KmvSketch.finish(full)
    assert(math.abs(est - n) / n < 2.0 / math.sqrt(KmvSketch.K.toDouble))
    // merge of a split stream equals the sequential sketch
    val (l, r2) = hashes.splitAt(n / 3)
    val merged = KmvSketch.merge(
      l.foldLeft(KmvSketch.zero)(KmvSketch.reduce),
      r2.foldLeft(KmvSketch.zero)(KmvSketch.reduce)
    )
    assert(KmvSketch.finish(merged) == est)
    assert(merged.toSeq == full.toSeq)
  }
}
