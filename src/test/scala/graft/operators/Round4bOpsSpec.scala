package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 batch 2: k-means, count-min sketch, LM cross-entropy,
  * int8 quantization, cohort retention, span dedup, weighted
  * sampling, z-order layout.
  */
class Round4bOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("kmeans matches a driver-side reference implementation") {
    val got = Clustering
      .kmeansAssign(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap

    // reference Lloyd on collected vectors, same contract
    val vecs = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def rnd6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    def d2(x: Array[Double], c: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < x.length) { val d = x(i) - c(i); acc += d * d; i += 1 }
      acc
    }
    val vecById = vecs.toMap
    var cents: Map[Int, Array[Double]] =
      vecs.take(8).zipWithIndex.map { case ((_, v), k) => k -> v.clone }.toMap
    def assignAll(): Array[(Long, Int, Double)] = vecs.map { case (id, x) =>
      val (dd, k) = cents.toSeq
        .map { case (k, c) => (d2(x, c), k) }
        .minBy(identity)
      (id, k, dd)
    }
    for (_ <- 1 to 2) {
      val byC = assignAll().groupBy(_._2)
      cents = byC.map { case (k, members) =>
        val dims = vecs(0)._2.length
        k -> Array.tabulate(dims) { d =>
          rnd6(members.map(m => vecById(m._1)(d)).sum / members.size)
        }
      }
    }
    val expected =
      assignAll().map { case (id, k, dd) => id -> (k, rnd6(dd)) }.toMap
    assert(got.size == vecs.length)
    assert(got == expected)
  }

  test("cms estimates dominate exact counts; sketch rows conserve mass") {
    val out = Sketches.cmsTopTerms(spark, dir).collect()
    assert(out.length == 20)
    out.foreach(r => assert(r.getLong(2) >= r.getLong(1)))

    val exact = Tables
      .documents(spark, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
    val totalTokens = exact.agg(sum(col("n"))).collect()(0).getLong(0)
    val rowMass = Sketches
      .cmsCells(exact, 4, 64)
      .groupBy(col("r"))
      .agg(sum(col("cell_n")).as("mass"))
      .collect()
    assert(rowMass.length == 4)
    rowMass.foreach(r => assert(r.getLong(1) == totalTokens))
  }

  test("bigram xent is positive and n_bigrams = tokens - 1") {
    val out = TextAnalysis.bigramXent(spark, dir)
    assert(out.filter(col("xent") <= 0).count() == 0)
    val bad = out
      .join(
        Tables
          .documents(spark, dir)
          .select(
            col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("nt")
          ),
        "doc_id"
      )
      .filter(col("n_bigrams") =!= col("nt") - 1)
    assert(bad.count() == 0)
  }

  test("int8 quantization error is bounded by half a code step") {
    val stats = Tables
      .embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg((max(col("x")).cast("double") - min(col("x")).cast("double"))
        .as("range"))
    val maxStep =
      stats.agg(max(col("range"))).collect()(0).getDouble(0) / 255.0
    val worst = Similarity
      .int8QuantError(spark, dir)
      .agg(max(col("max_abs_err")))
      .collect()(0)
      .getDouble(0)
    assert(worst <= maxStep / 2.0 + 1e-9, s"$worst vs step $maxStep")
  }

  test("cohort retention: day-0 counts the full cohort, mass conserved") {
    val out = Events.cohortRetention(spark, dir).collect()
    val cohortSizes = Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(date_format(min(to_date(col("ts"))), "yyyy-MM-dd").as("cd"))
      .groupBy(col("cd"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    out.filter(_.getInt(1) == 0).foreach { r =>
      assert(r.getLong(2) == cohortSizes(r.getString(0)))
    }
    val totalUserDays = Tables
      .events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .count()
    assert(out.map(_.getLong(2)).sum == totalUserDays)
  }

  test("duplicated spans agree with grouping by the raw span text") {
    val byText = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 8)).as("span")
      )
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .select(
        TextFunctions.hash60(col("span")).as("span_key"),
        col("n_docs"),
        col("first_doc")
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val byHash = Dedup
      .duplicatedSpans(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(byHash == byText)
    assert(byHash.nonEmpty)
  }

  test("weighted sample is size-k, deterministic, and length-biased") {
    val s1 = Sampling.weightedSample(spark, dir).collect()
    val s2 = Sampling.weightedSample(spark, dir).collect()
    assert(s1.length == 50)
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq)
    s1.foreach { r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
    val corpusAvg = Tables
      .documents(spark, dir)
      .agg(avg(col("n_chars")))
      .collect()(0)
      .getDouble(0)
    val sampleAvg = s1.map(_.getLong(1)).sum.toDouble / s1.length
    assert(sampleAvg > corpusAvg, s"sample $sampleAvg vs corpus $corpusAvg")
  }

  test("zorder buckets partition the table into tight rectangles") {
    val out = Layout.zorderBuckets(spark, dir).collect()
    val o = Tables.orders(spark, dir)
    val nOrders = o.count()
    assert(out.map(_.getLong(1)).sum == nOrders)

    val Array(ckMn, ckMx, dMn, dMx) = o
      .select(
        min(col("o_custkey")),
        max(col("o_custkey")),
        min(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date"))),
        max(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")))
      )
      .collect()(0)
      .toSeq
      .map(_.toString.toLong)
      .toArray
    // top-4 z bits fix the top 2 bits of each normalized dim → every
    // bucket spans at most a quarter of each domain (+1 code of slack)
    val ckQuarter = (ckMx - ckMn + 1) / 4.0 + (ckMx - ckMn + 1) / 256.0 + 1
    val dQuarter = (dMx - dMn + 1) / 4.0 + (dMx - dMn + 1) / 256.0 + 1
    out.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= ckQuarter,
        s"custkey extent ${r.getLong(3) - r.getLong(2)} > $ckQuarter")
      assert(r.getLong(5) - r.getLong(4) <= dQuarter,
        s"day extent ${r.getLong(5) - r.getLong(4)} > $dQuarter")
    }
  }

  test("pmi is symmetric-marginal consistent and capped at ln(T/min)") {
    val out = TextAnalysis.pmiCollocations(spark, dir).collect()
    assert(out.length == 20)
    // PMI(x,y) <= ln(T / max(n_x, n_y)) <= ln(T / n_xy); with
    // n_xy >= 5 and T fixed the bound is ln(T/5)
    val totalBigrams = Tables
      .documents(spark, dir)
      .select(TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .agg(sum(size(col("t")) - 1))
      .collect()(0)
      .getLong(0)
    val bound = math.log(totalBigrams / 5.0) + 1e-9
    out.foreach(r => assert(r.getDouble(3) <= bound))
  }

  test("entropy is within [0, ln(n)] and 0 for single-token docs") {
    val out = TextAnalysis.tokenEntropy(spark, dir).collect()
    out.foreach { r =>
      val n = r.getLong(1)
      val h = r.getDouble(2)
      // h is rounded to 6 places, so allow half a rounding step
      assert(h >= -5e-7 && h <= math.log(n.toDouble) + 5e-7)
      if (n == 1) assert(math.abs(h) < 5e-7)
    }
  }

  test("incremental dedup statuses partition the batch and are sane") {
    val out = Dedup.incrementalDedup(spark, dir).collect()
    val batchSize = Tables
      .documents(spark, dir)
      .filter(col("doc_id") >= 250)
      .count()
    assert(out.length == batchSize)
    val statuses = out.map(_.getString(1)).toSet
    assert(statuses.subsetOf(Set("exact_dup", "near_dup", "new")))
    // every exact_dup really has a byte-identical corpus text
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val corpusTexts = docs.filter(_._1 < 250).map(_._2).toSet
    val byId = docs.toMap
    out.filter(_.getString(1) == "exact_dup").foreach { r =>
      assert(corpusTexts.contains(byId(r.getLong(0))))
    }
  }

  test("histogram median approximates the exact median within a bin") {
    val out = TextAnalysis.histogramMedian(spark, dir).collect()
    val Array(mn, mx) = Tables
      .documents(spark, dir)
      .select(
        min(TextFunctions.tokenCount(col("text"))),
        max(TextFunctions.tokenCount(col("text")))
      )
      .collect()(0)
      .toSeq
      .map(_.toString.toLong)
      .toArray
    val binWidth = (mx - mn + 1).toDouble / 20
    out.foreach { r =>
      assert(r.getDouble(4) <= binWidth + 1e-9,
        s"${r.getString(0)}: err ${r.getDouble(4)} > bin $binWidth")
    }
  }

  test("mix reweight conserves the token budget in expectation") {
    val out = Sampling.mixReweight(spark, dir).collect()
    assert(out.length == 5)
    val totalTokens = out.map(_.getLong(2)).sum
    // Σ expected = Σ total · target_l = total (targets sum to 1);
    // centi-token units, each row half-up-rounded → within 5 centi
    val expectedCenti = out.map(_.getLong(6)).sum
    assert(math.abs(expectedCenti - totalTokens * 100L) <= 5L)
    out.foreach { r =>
      // weight_micro · share_ppm ≈ target_pm (micro·ppm = 10⁻¹², the
      // product is target in 10⁻¹² units; both factors half-up)
      val prod = r.getLong(5).toDouble * r.getLong(3) / 1e9
      assert(math.abs(prod - r.getLong(4)) < 0.01,
        s"weight·share != target: $prod vs ${r.getLong(4)}")
    }
  }

  test("probe-2 IVF recall dominates probe-1 against the exact top-5") {
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(
      Similarity
        .cosineTopK(spark, dir)
        .filter(col("q_id") < 3)
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"))
    )
    val p1 = resultSet(
      Similarity.ivfTopK(spark, dir).select(col("q_id"), col("vec_id")))
    val p2 = resultSet(
      Similarity.ivfTopKProbe(spark, dir).select(col("q_id"), col("vec_id")))
    val r1 = exact.intersect(p1).size.toDouble / exact.size
    val r2 = exact.intersect(p2).size.toDouble / exact.size
    assert(r2 >= r1, s"probe-2 recall $r2 < probe-1 recall $r1")
    assert(p2.nonEmpty && exact.nonEmpty)
  }

  test("streaming lake sink is exactly-once across a restart") {
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft-lake-spec-${java.util.UUID.randomUUID()}")
    val out = s"$base/lake"
    val ckpt = s"$base/ckpt"
    def drain(): Unit = graft.io.Sinks.streamEventsToLake(
      graft.streaming.EventStreams.readEvents(spark, dir), out, ckpt)
    drain()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == Tables.events(spark, dir).count())
    // restart on the same checkpoint: offsets are committed, the
    // manifest is sealed — nothing may be appended or double-counted
    drain()
    val n2 = spark.read.parquet(out).count()
    assert(n2 == n1)
    // day partitioning visible to pruning
    val days = spark.read.parquet(out).select(col("day")).distinct().count()
    assert(days >= 2)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(base)
  }

  test("stratified weighted sample: exactly k per language, priorities valid") {
    val out = Sampling.stratifiedWeightedSample(spark, dir).collect()
    val perLang = out.groupBy(_.getString(1)).map { case (l, rows) =>
      l -> rows.length
    }
    val langSizes = Tables
      .documents(spark, dir)
      .filter(col("n_chars") > 0)
      .groupBy(col("lang"))
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    perLang.foreach { case (l, n) =>
      assert(n == math.min(20L, langSizes(l)), s"$l: $n")
    }
    out.foreach(r => assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1))
  }

  test("corpus card is internally consistent") {
    val r = TextAnalysis.corpusCard(spark, dir).collect()(0)
    val nDocs = Tables.documents(spark, dir).count()
    assert(r.getLong(0) == nDocs)
    assert(r.getLong(4) > 0L && r.getLong(4) <= 1000000L) // top_lang_ppm
    assert(r.getLong(5) >= 0L && r.getLong(5) < 1000000L) // exact_dup_ppm
    assert(r.getLong(6) > 0L && r.getLong(6) <= 1000000L) // mean_quality_micro
    assert(r.getLong(2) >= 1 && r.getLong(2) <= 5) // n_langs
  }

  test("filter funnel is monotone non-increasing from the full corpus") {
    val rows = TextAnalysis
      .filterFunnel(spark, dir)
      .orderBy(col("stage"))
      .collect()
    assert(rows.length == 6)
    assert(rows(0).getLong(1) == Tables.documents(spark, dir).count())
    assert(rows(0).getLong(2) == 1000000L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) <= a.getLong(1),
        s"${b.getString(0)} > ${a.getString(0)}")
    }
  }

  test("bpe pairs: counts dominated by total character mass") {
    val out = TextAnalysis.bpePairStats(spark, dir).collect()
    assert(out.length == 30)
    out.foreach(r => assert(r.getString(0).length == 2 && r.getLong(1) > 0))
    // sorted descending by construction
    assert(out.map(_.getLong(1)).toSeq == out.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("pipeline observe() metrics report the gate yield in-flight") {
    val df = PipelineE2E.corpusPipeline(spark, dir)
    df.collect()
    val metrics = df.queryExecution.observedMetrics("gate_metrics")
    val expected = graft.Tables
      .documents(spark, dir)
      .filter(graft.functions.TextFunctions.qualityScore(col("text"))
        >= PipelineE2E.QualityThreshold)
      .count()
    assert(metrics.getLong(0) == expected)
    val meanQ = metrics.getDouble(1)
    assert(meanQ >= PipelineE2E.QualityThreshold && meanQ <= 1.0)
  }

  test("kmeans assignment broadcasts centroids; corpus is not shuffled") {
    val e = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val init = e
      .orderBy(col("vec_id"))
      .limit(8)
      .withColumn(
        "cluster",
        row_number()
          .over(org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1
      )
      .select(
        col("cluster"),
        transform(col("embedding"), x => x.cast("double")).as("c_vec")
      )
      .localCheckpoint(true)
    val p = Clustering
      .assign(e, init)
      .queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      )
    assert(p.contains("BroadcastNestedLoopJoin"))
  }
}
