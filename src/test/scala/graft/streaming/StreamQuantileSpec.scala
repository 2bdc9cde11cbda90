package graft.streaming

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** q486: the streamed bottom-k sketch's terminal state must equal the
  * batch q484 sketch exactly — the merge-law-across-micro-batches
  * pin: however the file stream splits the input into batches, the
  * kept multiset is the same K smallest (hash, value) pairs.
  */
class StreamQuantileSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q486 terminal five-point equals the batch q484 estimate columns") {
    val stream = StreamQuantile
      .streamQuantileSketch(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))
      .toMap
    val batch = graft.operators.Sketches
      .quantileSketchAudit(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(8), r.getLong(9), r.getLong(10),
          r.getLong(11), r.getLong(12)))
      .toMap
    assert(stream.keySet == batch.keySet)
    stream.foreach { case (grp, s) =>
      assert(s == batch(grp), s"stream vs batch sketch drift at $grp")
    }
    graft.util.Caches.releaseAll()
  }
}
