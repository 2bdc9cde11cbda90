package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the stream-burst/hubness/KMV wave (q301,
  * q302, q303).
  */
class Round8acOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q301 drained stream equals batch q254 minus open hours") {
    def key(r: org.apache.spark.sql.Row): (String, Long) =
      (r.getAs[String]("event_type"), r.getAs[Long]("hour_us"))
    val streamed = graft.streaming.EventStreams
      .streamBurstFlags(spark, dir).collect()
    val batch = Events.burstFlags(spark, dir).collect()
    val lastHour = batch.groupBy(_.getAs[String]("event_type"))
      .view.mapValues(_.map(_.getAs[Long]("hour_us")).max).toMap
    val expected = batch.filter(r =>
      r.getAs[Long]("hour_us") < lastHour(r.getAs[String]("event_type")))
    assert(streamed.length == expected.length)
    val sm = streamed.map(r => key(r) ->
      (r.getAs[Long]("n"), r.getAs[Long]("n_prev"),
        Option(r.getAs[java.lang.Long]("z_micro")),
        r.getAs[Boolean]("burst"))).toMap
    expected.foreach { r =>
      val got = sm(key(r))
      assert(got._1 == r.getAs[Long]("n"))
      assert(got._2 == r.getAs[Long]("n_prev"))
      assert(got._3.map(_.toLong) ==
        Option(r.getAs[java.lang.Long]("z_micro")).map(_.toLong))
      assert(got._4 == r.getAs[Boolean]("burst"))
    }
    streamed.filter(_.getAs[Boolean]("burst")).foreach(r =>
      assert(r.getAs[java.lang.Long]("z_micro").toLong > 3000000L))
  }

  test("q302 histogram masses conserve corpus and neighbor counts") {
    val rows = Similarity.hubnessAudit(spark, dir).collect()
    val nCorpus = Tables.embeddings(spark, dir).count()
    val nQueries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0).count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == nCorpus)
    // every query emits exactly 5 neighbors
    assert(rows.map(r =>
      r.getAs[Long]("occurrences") * r.getAs[Long]("n_vectors")).sum ==
      5L * nQueries)
  }

  test("q303 sketch is exact under k and within KMV error above it") {
    val rows = Sketches.kmvSourceTokenError(spark, dir).collect()
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      if (exact < 256)
        assert(r.getAs[Long]("err_ppm") == 0L)
      else
        // k=256 relative error concentrates near 1/sqrt(k) ~ 6%;
        // 20% is a generous determinism-safe envelope
        assert(r.getAs[Long]("err_ppm") < 200000L)
    }
  }
}
