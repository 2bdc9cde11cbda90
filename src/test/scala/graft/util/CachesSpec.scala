package graft.util

import graft.SparkSpec
import graft.operators.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** The round-7 verdict's cache-lifecycle directive: operator-internal
  * caches must be releasable once a query's outputs are materialized —
  * no lingering cached RDDs after [[Caches.releaseAll]].
  */
class CachesSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("operator caches are tracked and releaseAll leaves nothing pinned") {
    Caches.releaseAll()
    spark.catalog.clearCache()
    // the session is shared by every suite: earlier suites' untracked
    // RDDs (operator localCheckpoints) may still be persisted
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // a cache-heavy operator: the perplexity chain tracks its token
    // frame and per-doc trigram counts
    val n = TextAnalysis.trigramPerplexity(spark, dir).count()
    assert(n > 0)
    assert(Caches.pinnedCount > 0, "the LM chain should register caches")
    Caches.releaseAll()
    assert(Caches.pinnedCount == 0)
    // nothing left in the session cache manager…
    assert(spark.sharedState.cacheManager.isEmpty, "cacheManager not empty")
    // …and no cached RDD blocks surviving the blocking unpersist
    val cachedRdds = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(cachedRdds.isEmpty, s"lingering RDDs: $cachedRdds")
  }

  test("a second query after releaseAll re-derives instead of erroring") {
    val a = TextAnalysis.trigramPerplexity(spark, dir).count()
    Caches.releaseAll()
    val b = TextAnalysis.trigramPerplexity(spark, dir).count()
    assert(a == b)
    Caches.releaseAll()
  }
}
