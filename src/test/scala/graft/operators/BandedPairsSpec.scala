package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 banded pair generators (q26/q37/q44): the uncapped,
  * bucket-join plans must reproduce (or verifiably under-approximate,
  * for LSH) their naive all-pairs twins.
  *
  *  - simhashPairs: 4×4-bit banding is EXACT for Hamming ≤ 3
  *    (pigeonhole: 3 flipped bits touch ≤ 3 of 4 disjoint bands).
  *  - fuzzyNamePairs: positional-bigram prefix blocking is LOSSLESS
  *    for edit distance ≤ 2 at q=2 (count-filter bound ≥ 1 for all
  *    part names).
  *  - embeddingNearDupPairs: banded sign-LSH candidates are a subset
  *    of the exact pair set, and every emitted similarity equals the
  *    exact cosine (verification is exact; only recall is traded).
  */
class BandedPairsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("banded simhash pairs ≡ all-pairs twin (pigeonhole exactness)") {
    val banded = Dedup
      .simhashPairs(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val sh = Dedup.simhashDocs(spark, dir).cache()
    val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    val naive = a
      .join(b, col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(banded.nonEmpty)
    assert(banded == naive)
  }

  test("prefix-blocked fuzzy pairs ≡ all-pairs levenshtein (lossless)") {
    val blocked = Dedup
      .fuzzyNamePairs(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("na"))
    val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("nb"))
    val naive = a
      .join(b, col("key_a") < col("key_b"))
      .withColumn("dist", levenshtein(col("na"), col("nb")).cast("int"))
      .filter(col("dist") <= 2)
      .select(col("key_a"), col("key_b"), col("dist"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(blocked.nonEmpty)
    assert(blocked == naive)
  }

  test("LSH near-dup pairs ⊆ exact set, with exact similarities") {
    val banded = Similarity
      .embeddingNearDupPairs(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val exact = a
      .join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(Similarity.cosine(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") > 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(banded.nonEmpty)
    assert(banded.subsetOf(exact))
  }
}
