package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The single-pass codegen MinHash signature must be bit-identical to
  * the interpreted xxhash64 HOF formulation it replaces (same
  * differential contract VectorMathSpec applies to vec_dot).
  */
class MinHashSigSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("codegen signature == interpreted xxhash64 HOF signature") {
    val sh = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("sh")
      )
      .filter(size(col("sh")) > 0)
    val both = sh.select(
      col("doc_id"),
      Dedup.minhashSignature(col("sh"), portable = false).as("fast"),
      Dedup.minhashSignatureHof(col("sh")).as("hof")
    )
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(
        r.getAs[collection.Seq[Long]]("fast") ==
          r.getAs[collection.Seq[Long]]("hof"),
        s"doc ${r.getLong(0)}"
      )
    }
  }

  test("null shingle folds the seed head, matching the HOF form") {
    // minhash_sig is SQL-exposed, so array('a', NULL) is reachable by
    // users even though the engine's shingle producers never emit
    // nulls; it must match the HOF xxhash64 null behavior, not NPE.
    val withNull = array(lit("a b c"), lit(null: String), lit("b c d"))
    val row = spark
      .range(1)
      .select(
        MinHashSig.minhashSig(withNull, Dedup.NumHashes).as("fast"),
        Dedup.minhashSignatureHof(withNull).as("hof")
      )
      .collect()(0)
    assert(
      row.getAs[collection.Seq[Long]]("fast") ==
        row.getAs[collection.Seq[Long]]("hof")
    )
  }

  test("signature length is NumHashes and entries are min-stable") {
    val one = spark
      .range(1)
      .select(
        MinHashSig
          .minhashSig(
            array(lit("a b c"), lit("b c d"), lit("c d e")),
            Dedup.NumHashes
          )
          .as("sig")
      )
      .collect()(0)
      .getAs[collection.Seq[Long]]("sig")
    assert(one.length == Dedup.NumHashes)
    // adding a duplicate shingle never changes the signature
    val withDup = spark
      .range(1)
      .select(
        MinHashSig
          .minhashSig(
            array(lit("a b c"), lit("b c d"), lit("c d e"), lit("a b c")),
            Dedup.NumHashes
          )
          .as("sig")
      )
      .collect()(0)
      .getAs[collection.Seq[Long]]("sig")
    assert(one == withDup)
  }
}
