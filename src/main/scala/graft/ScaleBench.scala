package graft

import graft.functions.TextFunctions._
import graft.functions.VectorMath
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale validation for the unbounded operator paths: the gated
  * queries run uncapped since round 5; this main runs the SAME
  * topologies on replicated corpora to show they hold at 100-1000×
  * the bench scale.
  *
  * Run: tools/run.sh graft.ScaleBench [docMult] [vecMult]
  * (defaults 200× docs ≈ 100k, 200× vectors ≈ 100k).
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val docMult = args.headOption.map(_.toInt).getOrElse(200)
    val vecMult = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val cpus = Sessions.cpus
    val spark = Sessions.local()
    val dir = "/root/testdata/sf0.01"

    // --- MinHash LSH dedup at ~100k docs -----------------------------
    // replicate with a per-replica suffix token so replicas are
    // near-dups of their source (high Jaccard) but not exact
    val docs = Tables
      .documents(spark, dir)
      .withColumn("rep", explode(sequence(lit(0), lit(docMult - 1))))
      .select(
        (col("doc_id") + col("rep") * 500).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep") % 7).as("text")
      )
      .repartition(cpus)
      .cache()
    val nDocs = docs.count()

    // fused tokenize→shingle→sign (single codegen pass; the md5
    // variant the oracle mirrors is ~10× slower, same LSH topology)
    val sh = docs
      .select(
        col("doc_id"),
        graft.functions.MinHashText.minhashText(col("text"), 3, 8).as("mh")
      )
      .filter(col("mh").isNotNull)
    val banded = sh.select(
      col("doc_id"),
      explode(
        transform(
          sequence(lit(0), lit(3)),
          j => struct(
            j.as("band"),
            concat_ws("_", element_at(col("mh"), j * 2 + 1),
              element_at(col("mh"), j * 2 + 2)).as("bval"))
        )
      ).as("bk")
    )
    val t0 = System.nanoTime()
    val nCandidates = banded
      .groupBy(col("bk"))
      .agg(count(lit(1)).as("bucket_size"))
      .agg(sum(col("bucket_size") * (col("bucket_size") - 1) / 2).cast("long"))
      .collect()(0)
      .getLong(0)
    val lshSec = (System.nanoTime() - t0) / 1e9

    // --- ANN at ~100k vectors ---------------------------------------
    val vecs = Tables
      .embeddings(spark, dir)
      .withColumn("rep", explode(sequence(lit(0), lit(vecMult - 1))))
      .select(
        (col("vec_id") + col("rep") * 500).as("vec_id"),
        col("embedding")
      )
      .repartition(cpus)
      .cache()
    val nVecs = vecs.count()
    val q = vecs
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val t1 = System.nanoTime()
    val exactTop = vecs
      .join(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        VectorMath.vecCosine(col("q_vec"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val topk = exactTop.size.toLong
    val annSec = (System.nanoTime() - t1) / 1e9

    // --- banded sign-LSH ANN at ~100k vectors -----------------------
    // Code width must grow with corpus size: the oracle-gated q70
    // uses 4 bands × 2 bits (4 buckets/band — fine at 500 vectors,
    // ~1.2B candidate pairs at 100k). Here 4 bands × 12 bits from 48
    // deterministic corpus-vector planes keep buckets collision-
    // bounded. Candidate count via bucket sizes (sum sz·(sz-1)/2),
    // the same inverted-index accounting as the MinHash LSH above;
    // the coding pass itself is shuffle-free (one broadcast row).
    val planes48 = Tables
      .embeddings(spark, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 148)
      .agg(
        transform(
          array_sort(collect_list(struct(col("vec_id").as("v"),
            col("embedding").as("emb")))),
          s => s.getField("emb")
        ).as("planes")
      )
    val tAnnLsh = System.nanoTime()
    val codes = vecs
      .crossJoin(broadcast(planes48))
      .select(
        col("vec_id"),
        col("embedding"),
        explode(
          transform(
            sequence(lit(0), lit(3)),
            b => struct(
              b.as("band"),
              array_join(
                transform(
                  slice(col("planes"), b * 12 + 1, lit(12)),
                  p => when(VectorMath.vecDot(p, col("embedding")) >= 0, "1")
                    .otherwise("0")
                ),
                ""
              ).as("code")
            )
          )
        ).as("bk")
      )
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.code").as("code"))
      .cache()
    val lshAnnCands = codes
      .groupBy(col("band"), col("code"))
      .agg(count(lit(1)).as("sz"))
      .agg(sum(col("sz") * (col("sz") - 1) / 2).cast("long"))
      .collect()(0)
      .getLong(0)
    val lshAnnSec = (System.nanoTime() - tAnnLsh) / 1e9

    // recall@10 of the banded index against the exact top-10: rank
    // only bucket-mates of each query (the index's candidate set) by
    // exact cosine. Identical work to a production two-stage ANN —
    // inverted-index probe then verify — and the recall number is
    // what justifies the 4-band OR-amplification choice.
    val tRec = System.nanoTime()
    val qc = codes
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("band"), col("code"))
    val lshTop = codes
      .join(qc, Seq("band", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(first(col("q_vec")).as("q_vec"), first(col("embedding")).as("emb"))
      .select(col("q_id"), col("vec_id"),
        VectorMath.vecCosine(col("q_vec"), col("emb")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val annRecall = exactTop.intersect(lshTop).size.toDouble / exactTop.size
    val annRecallSec = (System.nanoTime() - tRec) / 1e9
    codes.unpersist()

    // --- per-label centroids at ~100k vectors -----------------------
    // posexplode → per-(label, dim) partial avg: the shuffle carries
    // 640 aggregated rows, never the vectors.
    val tCent = System.nanoTime()
    val centRow = vecs
      .join(
        broadcast(Tables.embeddings(spark, dir)
          .select(col("vec_id").as("src_id"), col("label"))),
        (col("vec_id") % 500) === col("src_id")
      )
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("x").cast("double")).as("m"))
      .agg(count(lit(1)).as("cells"), sum(col("m")).as("checksum"))
      .collect()(0)
    val centCells = centRow.getLong(0)
    val centSec = (System.nanoTime() - tCent) / 1e9

    // --- corpus assembly at ~100k docs ------------------------------
    // vocabulary (explode + agg + top-k), sequence packing (single
    // window shuffle), and the KMV sketch (bounded state) on the
    // replicated corpus
    val t2 = System.nanoTime()
    val distinctTokens = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .count()
    val vocabSec = (System.nanoTime() - t2) / 1e9

    val t3 = System.nanoTime()
    val byKey = Window
      .partitionBy(col("pack_key"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nWindows = docs
      .select(col("doc_id"), (col("doc_id") % 64).as("pack_key"),
        tokenCount(col("text")).cast("long").as("nt"))
      .withColumn("cum", sum(col("nt")).over(byKey))
      .select(col("pack_key"),
        ((col("cum") - col("nt")) / 2048).cast("long").as("window_id"))
      .distinct() // (pack_key, window_id): window ids restart per key
      .count()
    val packSec = (System.nanoTime() - t3) / 1e9

    // quality scoring: column form re-tokenizes per metric (three
    // interpreted HOF passes); the fused counts are one traversal.
    // Aggregate over the computed score itself — summing a literal
    // lets ColumnPruning remove the scoring expression entirely and
    // the timing degenerates to an empty aggregate over the cache.
    val tQc = System.nanoTime()
    val qColSum = docs
      .select(qualityScore(col("text")).as("q"))
      .agg(sum(col("q")))
      .collect()(0)
      .getDouble(0)
    val qualityColSec = (System.nanoTime() - tQc) / 1e9
    val tQf = System.nanoTime()
    val qFusedSum = docs
      .select(graft.functions.TextStats.qualityFromStats(
        graft.functions.TextStats.textStats(col("text"))).as("q"))
      .agg(sum(col("q")))
      .collect()(0)
      .getDouble(0)
    val qualityFusedSec = (System.nanoTime() - tQf) / 1e9
    require(math.abs(qColSum - qFusedSum) < 1e-6,
      s"fused quality diverged: $qColSum vs $qFusedSum")

    // in-row simhash: the whole pass is a narrow map (the explode+
    // groupBy formulation shuffles |tokens| rows)
    val tSim = System.nanoTime()
    val nSimhashes = docs
      .select(graft.functions.SimHashText.simhashText(col("text"), 64)
        .as("sh"))
      .filter(col("sh").isNotNull)
      .count()
    val simSec = (System.nanoTime() - tSim) / 1e9

    // --- banded simhash candidate generation (the uncapped q37
    // topology) at ~100k docs: 4×16-bit bands over the 64-bit
    // signature; candidate volume counted per-bucket analytically
    // (sum of C(b,2)) — the join's output size without materializing
    // it, since replicated corpora are pathologically near-dup-dense
    val tSimBand = System.nanoTime()
    val simBandCands = docs
      .select(graft.functions.SimHashText.simhashText(col("text"), 64)
        .as("sh"))
      .filter(col("sh").isNotNull)
      .select(explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sh"), b * 16).bitwiseAND(0xffffL).as("bval"))
      }: _*)).as("bk"))
      .groupBy(col("bk"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2).cast("long"))
      .collect()(0)
      .getLong(0)
    val simBandSec = (System.nanoTime() - tSimBand) / 1e9

    // --- BPE merge loop over the ~100k-doc corpus: the corpus pass
    // builds the vocab once; each round is a vocab-sized shuffle
    val tBpe = System.nanoTime()
    val bpeMerges = graft.operators.BpeTrain
      .trainFromWords(
        docs
          .select(explode(
            graft.functions.TextFunctions.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w"))
          .agg(count(lit(1)).as("freq")),
        rounds = 4)
      .collect()
    val bpeSec = (System.nanoTime() - tBpe) / 1e9
    require(bpeMerges.length == 4 && bpeMerges.forall(_.getLong(3) > 0),
      "BPE merge loop must learn 4 positive-count merges")

    // --- PQ train→encode→ADC at ~100k vectors: codebook training
    // (Lloyd over broadcast centroids) and the encode pass both scan
    // the corpus without shuffling vector payloads; ADC is 4
    // broadcast-LUT lookups per candidate
    val tPq = System.nanoTime()
    val pqTop = graft.operators.Similarity.pqAdcTopKFrom(vecs).collect()
    val pqSec = (System.nanoTime() - tPq) / 1e9
    require(pqTop.length == 50, s"PQ top-k rows: ${pqTop.length}")
    require(
      pqTop.filter(r => r.getLong(0) == r.getLong(1)).forall(_.getInt(2) == 1),
      "PQ self-match must rank first at 100k vectors")

    // --- residual IVF-PQ at ~100k vectors: the coarse inverted lists
    // (k=8, nprobe=2) bound each query's candidate scan to its probed
    // lists' 4-byte codes; residual encode is one more corpus pass;
    // LUTs stay nQ·nProbe·m·k rows regardless of corpus size
    val tIvfPq = System.nanoTime()
    val ivfPqTop = graft.operators.Similarity
      .ivfPqTopKFrom(
        vecs.select(col("vec_id"), col("embedding")), coarseK = 8)
      .collect()
    val ivfPqSec = (System.nanoTime() - tIvfPq) / 1e9
    require(ivfPqTop.length == 50, s"IVF-PQ top-k rows: ${ivfPqTop.length}")
    require(
      ivfPqTop.groupBy(_.getLong(0)).forall(
        _._2.map(_.getInt(3)).toSeq.sorted == (1 to 10).toSeq),
      "IVF-PQ ranks must be 1..10 per query")

    // --- CDC chunk dedup at ~100k docs: replicas differ from their
    // source only in the trailing rep token, so every chunk before
    // the last boundary dedups — mean dup fraction must be high and
    // the only corpus-wide shuffle is the chunk-key groupBy
    val tCdc = System.nanoTime()
    val cdcAgg = graft.operators.Dedup
      .cdcChunkDedupFrom(docs)
      .agg(
        count(lit(1)).as("n"),
        avg(col("dup_token_ppm").cast("double") / 1e6).as("mean_dup"))
      .collect()(0)
    val cdcSec = (System.nanoTime() - tCdc) / 1e9
    require(cdcAgg.getLong(0) == nDocs, s"CDC rows: ${cdcAgg.getLong(0)}")
    require(cdcAgg.getDouble(1) > 0.5,
      s"CDC mean dup frac: ${cdcAgg.getDouble(1)}")

    // --- LR quality-gate training at ~100k docs: 6 rounds × one
    // 5-double partially-aggregated reduction — training cost is 6
    // corpus scans of a 5-double frame, independent of model hosting
    val lrDocs = docs.withColumn(
      "source",
      when(pmod(col("doc_id"), lit(20)) === 0, lit("src0"))
        .otherwise(lit("crawl")))
    val tLr = System.nanoTime()
    val lrW = graft.operators.QualityLR.train(
      graft.operators.QualityLR.featuresFrom(lrDocs).localCheckpoint(true))
    val lrSec = (System.nanoTime() - tLr) / 1e9
    require(lrW.length == 5 && lrW.forall(w => !w.isNaN && !w.isInfinite),
      s"LR weights: ${lrW.mkString(",")}")

    // --- NB classifier train→score at ~100k docs: one counting pass
    // over the token stream, vocabulary-sized count tables, sparse
    // scoring join carrying pre-aggregated counts
    val nbDocs = Tables
      .documents(spark, dir)
      .withColumn("rep", explode(sequence(lit(0), lit(docMult - 1))))
      .select(
        (col("doc_id") + col("rep") * 500).as("doc_id"),
        col("lang"),
        concat(col("text"), lit(" rep"), col("rep") % 7).as("text")
      )
      .repartition(cpus)
    val tNb = System.nanoTime()
    val nbScored = graft.operators.TextAnalysis.nbLangIdFrom(nbDocs)
    val nbAgg = nbScored
      .agg(count(lit(1)).as("n"), sum(col("correct")).as("ok"))
      .collect()(0)
    val nbSec = (System.nanoTime() - tNb) / 1e9
    require(nbAgg.getLong(0) == nDocs,
      s"NB must score every doc: ${nbAgg.getLong(0)} of $nDocs")

    val t4 = System.nanoTime()
    val kmvEst = docs
      .select(graft.functions.TextFunctions.hash60(col("doc_id")).as("h"))
      .agg(graft.functions.KmvSketch.kmvDistinct(col("h")))
      .collect()(0)
      .getDouble(0)
    val kmvSec = (System.nanoTime() - t4) / 1e9
    val kmvErr = math.abs(kmvEst - nDocs) / nDocs

    // --- connected components at 1M nodes ---------------------------
    // the dedup cluster-resolution step on a synthetic graph shaped
    // like a real near-dup corpus (200k cliques of 5) PLUS a
    // 4096-node chain — the worst-diameter shape plain label
    // propagation would need 4096 rounds for. Pointer doubling must
    // close it in O(log d) rounds; every round is three key-shuffles
    // of the (id, label) table, never more state than one row per
    // node.
    val ccN = 1000000L
    val chainN = 4096L
    val ccNodes = spark.range(ccN + chainN).select(col("id"))
    val cliqueEdges = spark
      .range(ccN)
      .filter(col("id") % 5 =!= 0)
      .select(col("id").as("src"), (col("id") - (col("id") % 5)).as("dst"))
    val chainEdges = spark
      .range(ccN, ccN + chainN - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val tCc = System.nanoTime()
    val (ccLabels, ccRounds) = graft.operators.ConnectedComponents
      .runWithStats(ccNodes, cliqueEdges.unionByName(chainEdges))
    val ccComponents =
      ccLabels.select(col("label")).distinct().count()
    val ccSec = (System.nanoTime() - tCc) / 1e9
    require(
      ccComponents == ccN / 5 + 1,
      s"expected ${ccN / 5 + 1} components, got $ccComponents"
    )

    // --- composed ingest pipeline -----------------------------------
    // the full 100 TB ingestion path in one DAG over every fused
    // expression: quality gate → MinHash + SimHash signatures →
    // content-hash split → exact dedup (md5 survivor) → window count.
    // One narrow map over the scan + one shuffle (the dedup groupBy).
    val tP = System.nanoTime()
    val signals = docs
      .withColumn("st", graft.functions.TextStats.textStats(col("text")))
      .withColumn("quality",
        graft.functions.TextStats.qualityFromStats(col("st")))
      .filter(col("quality") >= 0.3)
      .withColumn("mh",
        graft.functions.MinHashText.minhashText(col("text"), 3, 8))
      .filter(col("mh").isNotNull)
      .withColumn("simhash",
        graft.functions.SimHashText.simhashText(col("text"), 64))
      .withColumn("split",
        graft.functions.TextFunctions.hash60(col("doc_id")) % 100)
      .withColumn("text_md5", md5(col("text")))
    // The final agg reads every produced signal (simhash via
    // bit_count, the MinHash signature via its first element, the
    // split bucket, the survivor ids) so ColumnPruning cannot drop any
    // stage of the pipeline from the measured plan; a bare count()
    // over the groupBy needs only the grouping key and silently
    // removes the signature/simhash work.
    val pipeRow = signals
      .groupBy(col("text_md5"))
      .agg(
        min(col("doc_id")).as("survivor_id"),
        count(lit(1)).as("n_copies"),
        first(col("split")).as("split"),
        sum(bit_count(col("simhash"))).as("sim_bits"),
        // bit_count keeps the forcing sum ≤64/row — summing raw
        // 64-bit hash values overflows LongType under ANSI
        sum(bit_count(element_at(col("mh"), 1))).as("mh_head")
      )
      .agg(
        count(lit(1)).as("survivors"),
        sum(col("survivor_id")),
        sum(col("n_copies")),
        sum(col("split")),
        sum(col("sim_bits")),
        sum(col("mh_head"))
      )
      .collect()(0)
    val survivors = pipeRow.getLong(0)
    val pipeSec = (System.nanoTime() - tP) / 1e9

    // --- PageRank at 1M nodes ---------------------------------------
    // power iteration over the symmetrized clique graph (1.6M directed
    // edges): 4 rounds × (join + aggregate) with per-round lineage
    // truncation — the same two-key-shuffle round as CC, so the cost
    // scales with edge count, not iterations × plan depth.
    val prEdges = cliqueEdges
      .unionByName(cliqueEdges.select(col("dst").as("src"), col("src").as("dst")))
    val tPr = System.nanoTime()
    val prMass = graft.operators.PageRank
      .run(prEdges, iterations = 4)
      .agg(sum(col("rank")), count(lit(1)))
      .collect()(0)
    val prSec = (System.nanoTime() - tPr) / 1e9
    val prNodes = prMass.getLong(1)
    require(math.abs(prMass.getDouble(0) - 1.0) < 1e-6,
      s"pagerank mass not conserved: ${prMass.getDouble(0)}")

    // --- distributed global ranking at 5M rows ----------------------
    // the q50 topology un-capped: exact ntile over a total order with
    // heavy ties (1000 distinct values over 5M rows), via range
    // shuffle + zipWithIndex — no single-partition stage anywhere.
    // Validated structurally: ntile(10) bucket sizes must be exactly
    // N/10 (N divisible here), and the global rank must span [1, N].
    val rankN = 5000000L
    val tRank = System.nanoTime()
    val rankIn = spark
      .range(rankN)
      .select(col("id"),
        (col("id") * 2654435761L % 1000).cast("double").as("score"))
    val ranked = graft.operators.Ranking
      .withGlobalRank(rankIn.toDF(),
        Seq(col("score").desc, col("id").asc), "rk", cpus)
      .withColumn("decile",
        graft.operators.Ranking.ntileFromRank(col("rk"), lit(rankN), 10))
    val deciles = ranked
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), min(col("rk")).as("lo"), max(col("rk")).as("hi"))
      .collect()
    val rankSec = (System.nanoTime() - tRank) / 1e9
    require(deciles.length == 10 &&
      deciles.forall(_.getLong(1) == rankN / 10),
      s"ntile bucket sizes broken: ${deciles.mkString(";")}")
    require(deciles.map(_.getLong(2)).min == 1L &&
      deciles.map(_.getLong(3)).max == rankN,
      "global rank does not span [1, N]")

    // --- distributed prefix max at 5M rows (q409 topology) -----------
    // range shuffle on the arrival key + within-partition running max
    // + P-row broadcast of per-partition prefix maxima — the
    // cumulative-sum topology with max as the monoid, validated
    // against the closed form: with ts = id * 7919 % 1000003 the
    // serial running max is position-computable, so the late-event
    // count has an exact expected value recomputed here cheaply via
    // the same expression on a second pass.
    val pmN = 5000000L
    val tPm = System.nanoTime()
    val pmIn = spark
      .range(pmN)
      .select(col("id").as("event_id"),
        (col("id") * 7919L % 1000003L).as("us"))
      .repartitionByRange(cpus, col("event_id").asc)
      .withColumn("pid", spark_partition_id())
    val wInPm = Window
      .partitionBy(col("pid"))
      .orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pmLocal = pmIn
      .withColumn("prev_in", max(col("us")).over(wInPm))
      .localCheckpoint(true)
    val pmOff = pmLocal
      .groupBy(col("pid"))
      .agg(max(col("us")).as("pmax"))
      .withColumn("prefix",
        max(col("pmax")).over(Window.orderBy(col("pid").asc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("pid"), col("prefix"))
    val lateN = pmLocal
      .join(broadcast(pmOff), Seq("pid"))
      .select((greatest(
        coalesce(col("prev_in"), col("us")),
        coalesce(col("prefix"), col("us"))) > col("us"))
        .cast("long").as("late"))
      .agg(sum(col("late")))
      .collect()(0)
      .getLong(0)
    val pmSec = (System.nanoTime() - tPm) / 1e9
    // sanity: most rows are late once the modular sequence wraps
    require(lateN > pmN / 2 && lateN < pmN,
      s"prefix-max late count implausible: $lateN of $pmN")

    // --- k-means at ~100k vectors ------------------------------------
    // the q93 topology un-capped: per round one broadcast of k·dims
    // centroid values + one partially-aggregated (cluster, dim) cell
    // shuffle; assignment distance is the codegen'd vec_sq_dist. The
    // corpus is never shuffled.
    val tKm = System.nanoTime()
    val kmInit = vecs
      .orderBy(col("vec_id"))
      .limit(8)
      .withColumn("cluster",
        row_number().over(Window.orderBy(col("vec_id"))) - 1)
      .select(col("cluster"),
        transform(col("embedding"), x => x.cast("double")).as("c_vec"))
    var kmCents = kmInit.localCheckpoint(true)
    for (_ <- 1 to 2) {
      val a = graft.operators.Clustering.assign(vecs, kmCents)
      kmCents = graft.operators.Clustering.update(vecs, a)
        .localCheckpoint(true)
    }
    val kmRow = graft.operators.Clustering
      .assign(vecs, kmCents)
      .agg(count(lit(1)).as("n"),
        countDistinct(col("cluster")).as("k"),
        sum(col("dist")).as("objective"))
      .collect()(0)
    val kmSec = (System.nanoTime() - tKm) / 1e9
    require(kmRow.getLong(0) == nVecs,
      s"kmeans lost vectors: ${kmRow.getLong(0)} of $nVecs")
    val kmK = kmRow.getLong(1)

    // --- count-min sketch over the ~100k-doc token stream ------------
    // fixed d×w state regardless of corpus size; estimates must
    // dominate exact counts (collisions only add).
    val tCms = System.nanoTime()
    val exactTerms = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
    val cmsCells = graft.operators.Sketches.cmsCells(exactTerms, 4, 1024)
      .cache()
    val cmsCellCount = cmsCells.count()
    val topTerms = exactTerms.orderBy(col("n").desc, col("w").asc).limit(20)
    val cmsViolations = topTerms
      .select(col("w"), col("n"),
        explode(array((0 until 4).map { i =>
          struct(lit(i).as("r"),
            pmod(graft.functions.TextFunctions
              .hash60(concat_ws(":", lit(i), col("w"))), lit(1024)).as("b"))
        }: _*)).as("rb"))
      .join(broadcast(cmsCells),
        col("rb.r") === cmsCells("r") && col("rb.b") === cmsCells("b"))
      .groupBy(col("w"))
      .agg(any_value(col("n")).as("exact_n"), min(col("cell_n")).as("cms_n"))
      .filter(col("cms_n") < col("exact_n"))
      .count()
    val cmsSec = (System.nanoTime() - tCms) / 1e9
    cmsCells.unpersist()
    require(cmsViolations == 0L, s"$cmsViolations CMS under-estimates")

    // --- duplicated spans at ~100k docs ------------------------------
    // the q96 topology with the fast (xxhash64) span key instead of
    // the oracle-portable md5 prefix: shuffle carries one partially-
    // aggregated row per span family. The 200× replication makes
    // every non-tail span a family of ~200 — the adversarial shape.
    val tSpan = System.nanoTime()
    val spanRow = docs
      .select(col("doc_id"),
        explode(shingles(col("text"), 8)).as("span"))
      .groupBy(xxhash64(col("span")).as("span_key"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .agg(count(lit(1)).as("families"), sum(col("n_docs")).as("members"))
      .collect()(0)
    val spanSec = (System.nanoTime() - tSpan) / 1e9
    val spanFamilies = spanRow.getLong(0)
    require(spanFamilies > 0, "no duplicated span families found")

    // --- winnowing fingerprints at ~100k docs ------------------------
    // the q140 topology with the fast (xxhash64) gram key instead of
    // the oracle-portable md5 prefix; candidate pairs counted per
    // fingerprint bucket (sum n·(n−1)/2) without materializing them —
    // the 200× replication makes every source doc a ~200-replica
    // near-dup family, the adversarial bucket shape.
    val tWin = System.nanoTime()
    val winGrams = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(
        col("doc_id"),
        (size(col("toks")) - 2).as("ng"),
        posexplode(
          transform(
            sequence(lit(0), size(col("toks")) - 3),
            i => array_join(slice(col("toks"), i + 1, lit(3)), " ")
          )
        ).as(Seq("pos", "gram"))
      )
      .select(col("doc_id"), col("ng"), col("pos"),
        xxhash64(col("gram")).as("h"))
    val winW = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.currentRow, 3)
    val winRow = winGrams
      .withColumn("mh", min(col("h")).over(winW))
      .filter(col("pos") <= greatest(col("ng") - 4, lit(0)))
      .select(col("doc_id"), col("mh"))
      .distinct()
      .groupBy(col("mh"))
      .agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("fps"),
        sum(col("n") * (col("n") - 1) / 2).cast("long").as("cand")
      )
      .collect()(0)
    val winSec = (System.nanoTime() - tWin) / 1e9
    val winFps = winRow.getLong(0)
    val winCands = winRow.getLong(1)
    require(winFps > 0 && winCands > 0, "winnowing selected nothing")

    // --- JL projection at ~100k vectors ------------------------------
    // the q141 projection fold over every vector: zero shuffles, one
    // codegen pass; the count+checksum agg forces materialization.
    val tJl = System.nanoTime()
    val jlRmat = transform(
      sequence(lit(0), lit(15)),
      j =>
        transform(
          sequence(lit(0), lit(63)),
          i =>
            when(
              xxhash64(concat(lit("jl:"), i.cast("string"), lit(":"),
                j.cast("string"))).bitwiseAND(lit(1L)) === 0,
              lit(1.0)
            ).otherwise(lit(-1.0))
        )
    )
    val jlRow = vecs
      .crossJoin(broadcast(spark.range(1).select(jlRmat.as("rmat"))))
      .select(
        transform(
          col("rmat"),
          row =>
            aggregate(
              zip_with(col("embedding"), row, (x, s) => x.cast("double") * s),
              lit(0.0),
              (acc, v) => acc + v
            ) / 4.0
        ).as("y")
      )
      .agg(count(lit(1)).as("n"), sum(abs(element_at(col("y"), 1))).as("chk"))
      .collect()(0)
    val jlSec = (System.nanoTime() - tJl) / 1e9
    require(jlRow.getLong(0) == nVecs, "JL projection lost rows")
    require(jlRow.getDouble(1) > 0, "JL projection degenerate")

    // --- native as-of join at 10M × 1M --------------------------------
    // the q105 custom operator un-capped: 100k keys, 10M left rows,
    // 1M right rows — two key-hash exchanges + sorts (inserted by
    // EnsureRequirements), then an O(1)-state merge per partition.
    // Every left row must appear exactly once.
    val asofLeftN = 10000000L
    val asofRightN = 1000000L
    val lDf = spark
      .range(asofLeftN)
      .select((col("id") % 100000).as("k"), (col("id") * 7 % 1000000).as("t"),
        col("id").as("lid"))
    val rDf = spark
      .range(asofRightN)
      .select((col("id") % 100000).as("rk"),
        (col("id") * 13 % 1000000).as("rt"), col("id").as("rid"))
    val tAsof = System.nanoTime()
    val asofRow = graft.plans.AsOf
      .join(lDf, rDf, Seq("k"), Seq("rk"), Seq("t", "lid"), Seq("rt", "rid"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("rt").isNotNull, 1L).otherwise(0L)).as("matched")
      )
      .collect()(0)
    val asofSec = (System.nanoTime() - tAsof) / 1e9
    require(asofRow.getLong(0) == asofLeftN,
      s"as-of join lost/duplicated rows: ${asofRow.getLong(0)}")
    val asofMatched = asofRow.getLong(1)
    require(asofMatched > 0, "as-of join matched nothing")

    // --- sessionization at 10M events ---------------------------------
    // the q87/q123 native session_window topology un-capped: one
    // key-shuffle of 10M (user, ts) rows over 200k users. Per-user
    // deltas (~26 min) sit just under the 30-min gap, so every user's
    // 50 events merge into ONE chained session — the worst-case merge
    // depth (each event extends the open session), 200k sessions out.
    val sessN = 10000000L
    val sessEvents = spark
      .range(sessN)
      .select(
        (col("id") % 200000).as("user_id"),
        timestamp_micros(lit(1700000000000000L) +
          (col("id") * 7919L % 2592000000000L)).as("ts"),
        lit(1.0).as("value")
      )
    val tSess = System.nanoTime()
    val nSessions = sessEvents
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .count()
    val sessSec = (System.nanoTime() - tSess) / 1e9
    require(nSessions > 0 && nSessions <= sessN,
      s"implausible session count $nSessions")

    // --- prefix-filtered exact SSJ at ~100k docs ----------------------
    // the q159 topology (global rare-first order, |S|−⌈t|S|⌉+1
    // prefixes as candidate keys, full-set verify) with the fast
    // xxhash64 shingle key, at 200× replication with CONTROLLED
    // true-pair volume: reps 0-4 of each source keep the source text
    // (a 5-member near-dup family per source), reps ≥ 5 salt every
    // 3rd token with the replica id, making every shingle unique —
    // 97.5% of the corpus has NO near-dup. The recorded candidate
    // count must therefore track the ~C(5,2)·sources true pairs, not
    // the 5·10⁹ pair corpus square — the "candidate volume ∝ true
    // pairs" property that makes prefix-filtered SSJ viable at 100 TB.
    val ppT = 0.9
    val ppRaw = Tables
      .documents(spark, dir)
      .withColumn("rep", explode(sequence(lit(0), lit(199))))
      .select(
        (col("doc_id") + col("rep") * 500).as("doc_id"),
        when(col("rep") < 5,
          concat(col("text"), lit(" rep"), col("rep")))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), "\\s+"),
              (w, i) => when(i % 3 === 0,
                concat(w, lit("_"), col("rep"))).otherwise(w))))
          .as("text")
      )
    val ppDocs = ppRaw
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .repartition(cpus)
      .cache()
    val ppN = ppDocs.count()
    val tPp = System.nanoTime()
    val ppEx = ppDocs
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
    val ppDf = ppEx.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ppWin = Window.partitionBy(col("doc_id"))
    val ppPref = ppEx
      .join(ppDf, Seq("s"))
      .withColumn("rn",
        row_number().over(ppWin.orderBy(col("df").asc, col("s").asc)))
      .withColumn("n", count(lit(1)).over(ppWin))
      .filter(col("rn") <= col("n") - ceil(lit(ppT) * col("n")) + 1)
      .select(col("doc_id"), col("s"))
    val ppCand = ppPref.select(col("doc_id").as("doc_a"), col("s"))
      .join(ppPref.select(col("doc_id").as("doc_b"), col("s")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      .cache()
    val ppCandN = ppCand.count()
    val ppInter =
      graft.functions.ArrayIntersectSize.intersectSize(col("sh_a"), col("sh_b"))
    val ppJ = ppInter.cast("double") /
      (size(col("sh_a")) + size(col("sh_b")) - ppInter)
    val ppPairsDf = ppCand
      .join(ppDocs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(ppDocs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .filter(ppJ >= ppT)
      .select(col("doc_a"), col("doc_b"))
      .cache()
    val ppPairs = ppPairsDf.count()
    val ppSec = (System.nanoTime() - tPp) / 1e9
    require(ppPairs > 0, "prefix-filter join found no near-dup pairs")
    // proportionality: candidates within a small constant of true
    // pairs, and sub-millionth of the corpus square
    require(ppCandN <= 100L * math.max(ppPairs, 1L),
      s"candidate volume $ppCandN not ∝ true pairs $ppPairs")
    require(ppCandN.toDouble < 1e-4 * ppN.toDouble * ppN.toDouble,
      s"candidate volume $ppCandN ≈ corpus²")

    // --- multi-signal closure at ~100k docs (the q165 topology) -------
    // text edges (the verified SSJ pairs above: reps 0-4 of each
    // source) ∪ embedding edges (banded 64-plane sign-LSH + cosine
    // verify over 100k vectors where reps 3-7 share the source
    // embedding and other reps get a rep-rotated — effectively
    // unrelated — vector), one pointer-doubling closure. The two
    // signals overlap only on reps 3-4, so every source's full
    // {0..7} cluster EXISTS ONLY because the union graph connects
    // text-only and embedding-only members through the shared ones —
    // the cross-signal merge q165 exists to provide, validated here
    // at 200× the gated scale.
    // reps 3-7 keep the source embedding (a 5-member exact family);
    // every other rep gets hash-keyed ±1 sign flips per dimension —
    // same-rep flips cancel in a dot product (cross-source sims stay
    // at the base corpus's ≤ 0.51 ceiling) and different-rep patterns
    // decorrelate, so NO pair outside the kept families verifies at
    // 0.9 (a rotation scheme tried first produced accidental ≥ 0.9
    // alignments and runaway merged clusters)
    val msVecs = Tables
      .embeddings(spark, dir)
      .withColumn("rep", explode(sequence(lit(0), lit(199))))
      .select(
        (col("vec_id") + col("rep") * 500).as("vid"),
        when(col("rep").between(3, 7), col("embedding"))
          .otherwise(
            transform(sequence(lit(0), lit(63)),
              i => (element_at(col("embedding"), i + 1).cast("double") *
                when(pmod(xxhash64(lit("ms"), col("rep"), i), lit(2)) === 0,
                  lit(1.0)).otherwise(lit(-1.0))).cast("float")))
          .as("emb")
      )
      .repartition(cpus)
      .cache()
    val msN = msVecs.count()
    val tMs = System.nanoTime()
    // 64 deterministic planes from corpus vectors; 4 bands × 16 bits
    val msPlanes = Tables
      .embeddings(spark, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 164)
      .agg(
        transform(
          array_sort(collect_list(struct(col("vec_id").as("v"),
            col("embedding").as("emb")))),
          s => s.getField("emb")
        ).as("planes"))
    val msCoded = msVecs
      .crossJoin(broadcast(msPlanes))
      .select(
        col("vid"),
        col("emb"),
        transform(sequence(lit(0), lit(3)), b =>
          concat_ws("", transform(sequence(lit(0), lit(15)), j =>
            when(VectorMath.vecDot(col("emb"),
                element_at(col("planes"), (b * 16 + j + 1).cast("int"))) >= 0,
              "1").otherwise("0")))
        ).as("codes"))
    val msBanded = msCoded.select(
      col("vid"),
      explode(
        transform(sequence(lit(0), lit(3)),
          b => struct(b.as("band"),
            element_at(col("codes"), b.cast("int") + 1).as("code")))
      ).as("bk"))
    val msEmbCand = msBanded
      .select(col("vid").as("doc_a"), col("bk"))
      .join(msBanded.select(col("vid").as("doc_b"), col("bk")), Seq("bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val msCos = VectorMath.vecCosine(col("emb_a"), col("emb_b"))
    val msEmbEdges = msEmbCand
      .join(msVecs.select(col("vid").as("doc_a"), col("emb").as("emb_a")),
        Seq("doc_a"))
      .join(msVecs.select(col("vid").as("doc_b"), col("emb").as("emb_b")),
        Seq("doc_b"))
      .filter(msCos >= 0.9)
      .select(col("doc_a"), col("doc_b"))
    val msEdges = ppPairsDf.unionByName(msEmbEdges).distinct()
    val msNodes = ppDocs.select(col("doc_id").as("id"))
      .unionByName(msVecs.select(col("vid").as("id")))
      .distinct()
    val msLabels = graft.operators.ConnectedComponents.run(
      msNodes,
      msEdges.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val msSizes = msLabels
      .groupBy(col("label"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
      .agg(
        count(lit(1)).as("clusters"),
        sum(col("sz")).as("clustered"),
        max(col("sz")).as("max_sz"))
      .collect()(0)
    val msClusters = msSizes.getLong(0)
    val msClustered = msSizes.getLong(1)
    val msMaxSz = msSizes.getLong(2)
    val msSec = (System.nanoTime() - tMs) / 1e9
    // every source has at least its 5-member embedding family (reps
    // 3-7, identical vectors); text families add reps 0-2 through the
    // shared 3-4 — so clustered mass sits in [2500, ~4000·slack] with
    // no runaway merging
    require(msClustered >= 2500,
      s"multi-signal closure clustered only $msClustered nodes")
    require(msMaxSz <= 32,
      s"multi-signal closure runaway cluster of $msMaxSz")

    // --- power-iteration PC1 at ~100k vectors (the q241 topology) -----
    // covariance-free: each round is (1) s_i = x̃_i·v with v broadcast,
    // (2) z = Σ s_i·x̃_i as a dim-keyed partial agg — 6.4M cells/round,
    // never a D×D matrix. Validation: the final iterate is unit-norm
    // and its Rayleigh quotient is positive.
    val tPc = System.nanoTime()
    val pcCells = vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))
    val pcMu = pcCells.groupBy(col("dim")).agg(round(avg(col("x")), 6).as("m"))
    val pcC = pcCells
      .join(broadcast(pcMu), "dim")
      .select(col("vec_id"), col("dim"), (col("x") - col("m")).as("xc"))
      .cache()
    val pcNF = broadcast(vecs.agg(count(lit(1)).as("n")))
    var pcV = pcMu
      .select(col("dim"), round(lit(0.125), 6).as("v"))
      .localCheckpoint(true)
    for (_ <- 1 to 4) {
      val s = pcC
        .join(broadcast(pcV), "dim")
        .groupBy(col("vec_id"))
        .agg(round(sum(col("xc") * col("v")), 6).as("s"))
      val z = pcC
        .join(s, "vec_id")
        .groupBy(col("dim"))
        .agg(sum(col("s") * col("xc")).as("zs"))
        .crossJoin(pcNF)
        .select(col("dim"), round(col("zs") / col("n"), 6).as("z"))
      val nrm = broadcast(z.agg(sum(col("z") * col("z")).as("zz")))
      pcV = z
        .crossJoin(nrm)
        .select(col("dim"), round(col("z") / sqrt(col("zz")), 6).as("v"))
        .localCheckpoint(true)
    }
    val pcNorm = pcV.agg(sum(col("v") * col("v"))).collect()(0).getDouble(0)
    val pcSec = (System.nanoTime() - tPc) / 1e9
    pcC.unpersist(true)
    require(math.abs(pcNorm - 1.0) < 1e-3, s"pc1 norm drifted: $pcNorm")

    // --- exact 1-NN label eval at ~100k corpus (the q240 topology) ----
    // bounded eval slice broadcast, corpus streamed once, top-1 as a
    // map-side struct-max — ~50M cosines, no corpus shuffle.
    val labeled = vecs
      .withColumn("label", (col("vec_id") % 7).cast("int"))
    val nnEval = labeled
      .filter(col("vec_id") % 200 === 0)
      .limit(500)
      .select(
        col("vec_id").as("q_id"),
        col("embedding").as("q_vec"),
        col("label").as("q_label")
      )
    val tNn = System.nanoTime()
    val nnAgg = labeled
      .join(broadcast(nnEval), col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(
        max(
          struct(
            VectorMath.vecCosine(col("q_vec"), col("embedding")).as("sim"),
            (-col("vec_id")).as("neg_id"),
            col("label").as("nn_label")
          )
        ).as("best")
      )
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("best.nn_label") === col("q_label"), 1L).otherwise(0L))
          .as("hits")
      )
      .collect()(0)
    val nnSec = (System.nanoTime() - tNn) / 1e9
    val nnEvalN = nnAgg.getLong(0)
    val nnHits = nnAgg.getLong(1)

    // --- distributed global ordered cumsum at 5M rows -----------------
    // the q164 topology: range-partition on the rank key, pid-keyed
    // window cumsums in parallel, 64-row offsets frame broadcast
    // back. Integer payloads → the fold is bit-equal to a sequential
    // scan; conservation (max cum == Σ tokens) proves no row was
    // dropped or double-counted across partition boundaries.
    val cumN = 5000000L
    val cumRows = spark.range(cumN).select(
      col("id").as("doc_id"),
      (col("id") * 2654435761L % 1000000L).cast("double").as("q"),
      (col("id") % 1000L + 1L).as("n_tokens"))
    val tCum = System.nanoTime()
    val cumParts = cumRows
      .repartitionByRange(64, col("q").desc, col("doc_id").asc)
      .withColumn("pid", spark_partition_id())
    val wCum = Window.partitionBy(col("pid"))
      .orderBy(col("q").desc, col("doc_id").asc)
    val cumIn = cumParts.withColumn("cum_in", sum(col("n_tokens")).over(wCum))
    val cumOff = cumIn.groupBy(col("pid"))
      .agg(max(col("cum_in")).as("ptot"))
      .withColumn("off",
        coalesce(sum(col("ptot")).over(
          Window.orderBy(col("pid").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    val cumAgg = cumIn
      .join(broadcast(cumOff), Seq("pid"))
      .withColumn("cum", col("cum_in") + col("off"))
      .agg(max(col("cum")).as("mx"), count(lit(1)).as("n"))
      .collect()(0)
    val cumSec = (System.nanoTime() - tCum) / 1e9
    val cumTotal = cumN / 1000L * (1000L * 1001L / 2)
    require(cumAgg.getLong(0) == cumTotal && cumAgg.getLong(1) == cumN,
      s"cumsum conservation failed: ${cumAgg.getLong(0)} != $cumTotal")

    // --- systematic PPS pick test on the 5M-row cumsum ----------------
    // the q304 topology rides the cumsum above: with B picks over
    // total token mass T, the stride-multiple pick test must select
    // EXACTLY B rows — the zero-variance property, verified at 5M.
    val ppsB = 10000L
    val tPps = System.nanoTime()
    val ppsSel = cumIn
      .join(broadcast(cumOff), Seq("pid"))
      .withColumn("cum", col("cum_in") + col("off"))
      .withColumn("hi", col("cum") * ppsB)
      .withColumn("lo", (col("cum") - col("n_tokens")) * ppsB)
      .withColumn("t", lit(cumTotal))
      .withColumn("sel", expr("hi div t - lo div t"))
      .agg(sum(col("sel")).as("picks"))
      .collect()(0)
      .getLong(0)
    val ppsSec = (System.nanoTime() - tPps) / 1e9
    require(ppsSel == ppsB, s"systematic PPS drew $ppsSel != $ppsB")

    // --- 2-core peel at ~1.03M nodes (the q315 topology) --------------
    // known structure: 100k 10-node chains (must peel away entirely)
    // + 10k triangles (each survives as a 2-core). Peel to fixpoint
    // with per-round localCheckpoint lineage truncation; the chain
    // mass dies in 5 rounds, so fixpoint lands at round 6.
    val chains = spark
      .range(100000L)
      .select(explode(sequence(lit(0L), lit(8L))).as("j"), col("id"))
      .select(
        (col("id") * 10 + col("j")).as("a"),
        (col("id") * 10 + col("j") + 1).as("b")
      )
    val triBase = 2000000L
    val tris = spark
      .range(10000L)
      .select(
        explode(
          array(
            struct(lit(0L).as("i"), lit(1L).as("j")),
            struct(lit(1L).as("i"), lit(2L).as("j")),
            struct(lit(0L).as("i"), lit(2L).as("j"))
          )
        ).as("e"),
        col("id")
      )
      .select(
        (lit(triBase) + col("id") * 3 + col("e.i")).as("a"),
        (lit(triBase) + col("id") * 3 + col("e.j")).as("b")
      )
    val peelEdges = chains.unionByName(tris).localCheckpoint(true)
    val peelSym = peelEdges
      .unionByName(peelEdges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    val tPeel = System.nanoTime()
    var alive = peelSym.select(col("a").as("n")).distinct()
      .localCheckpoint(true)
    var aliveN = alive.count()
    var peelRounds = 0
    var peelDone = false
    while (!peelDone && peelRounds < 30) {
      val next = peelSym
        .join(alive.select(col("n").as("a")), "a")
        .join(alive.select(col("n").as("b")), "b")
        .groupBy(col("a"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2)
        .select(col("a").as("n"))
        .localCheckpoint(false)
      val nN = next.count()
      peelDone = nN == aliveN
      alive = next
      aliveN = nN
      peelRounds += 1
    }
    val peelSec = (System.nanoTime() - tPeel) / 1e9
    require(aliveN == 30000L, s"2-core kept $aliveN nodes, want 30000")
    require(peelDone, "2-core peel did not reach fixpoint in 30 rounds")

    // --- trainable-token ledger funnel at ~100k docs (q360/q200) ------
    // the composed corpus-accounting funnel with the round-9
    // de-broadcast plan: exact-dup keep as a WINDOW over md5(text)
    // (never a corpus-sized broadcast side), a second
    // normalization-aware window (lowercased hash — the q189 rule)
    // as the near stage, and the integer micro-quality gate. Known
    // structure: every 4th replica keeps the source text verbatim, so
    // exact survivors = (3/4)·N + base exactly; the rest carry a
    // case-flipped suffix so the NORMALIZED stage collapses each
    // suffix class once more. Monotone counts + exact closed forms
    // verify the funnel at 100k+ with zero pairwise work.
    val ledBase = Tables.documents(spark, dir)
    val ledN0 = ledBase.count()
    val led = ledBase
      .withColumn("rep", explode(sequence(lit(0), lit(docMult - 1))))
      .select(
        (col("doc_id") + col("rep") * 500).as("doc_id"),
        when(col("rep") % 4 === 0, col("text"))
          .otherwise(
            concat(col("text"),
              when(col("rep") % 2 === 1, lit(" REPTAG"))
                .otherwise(lit(" reptag")),
              (col("rep") % 5).cast("string")))
          .as("text")
      )
      .repartition(cpus)
      .localCheckpoint(true)
    val tLed = System.nanoTime()
    val wExact = Window.partitionBy(md5(col("text")))
    val wNorm = Window.partitionBy(md5(lower(col("text"))))
    val ledger = led
      .select(
        col("doc_id"),
        col("text"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("tk"),
        graft.functions.TextFunctions.qualityMicro(col("text")).as("qm")
      )
      .withColumn("ek", min(col("doc_id")).over(wExact) === col("doc_id"))
      .withColumn("nk", min(col("doc_id")).over(wNorm) === col("doc_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tk")).as("total_tokens"),
        sum(when(col("ek"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("ek") && col("nk"), 1L).otherwise(0L))
          .as("n_norm"),
        sum(when(col("ek") && col("nk") && col("qm") >= 300000L, 1L)
          .otherwise(0L)).as("n_gated"),
        sum(when(col("ek") && col("nk") && col("qm") >= 300000L,
          col("tk")).otherwise(0L)).as("gated_tokens")
      )
      .collect()(0)
    val ledSec = (System.nanoTime() - tLed) / 1e9
    val ledDocs = ledger.getLong(0)
    val ledExact = ledger.getLong(2)
    val ledNorm = ledger.getLong(3)
    val ledGated = ledger.getLong(4)
    // exact survivors: one per source doc + one per distinct
    // (doc, suffix-case, digit) variant = N0·(1 + min(docMult-1, 10))
    // for docMult ≥ 11 (2 cases × 5 digits); monotone thereafter
    require(ledDocs == ledN0 * docMult, "ledger corpus size")
    if (docMult >= 21)
      require(ledExact == ledN0 * 11, s"exact survivors $ledExact")
    // normalization folds the two suffix cases: 1 + 5 classes
    if (docMult >= 21)
      require(ledNorm == ledN0 * 6, s"normalized survivors $ledNorm")
    require(ledGated <= ledNorm && ledNorm <= ledExact, "monotone funnel")

    // --- degree-oriented triangle census at ~1M edges (q445/q460) -----
    // known structure: T disjoint triangles (3T edges, T triangles)
    // plus one hub with S spokes (S edges, 0 triangles). The hub is
    // the adversarial case: un-oriented wedge generation would emit
    // C(S,2) ≈ 5·10⁹ candidates from it alone; degree orientation
    // points every spoke edge AT the hub (deg 1 → deg S), so hub
    // out-degree is 0 and the wedge count collapses to exactly T.
    val triT = 300000L
    val spokeS = 100000L
    val triEdges = spark
      .range(triT)
      .select(
        explode(
          array(
            struct((col("id") * 3).as("u"), (col("id") * 3 + 1).as("v")),
            struct((col("id") * 3).as("u"), (col("id") * 3 + 2).as("v")),
            struct((col("id") * 3 + 1).as("u"), (col("id") * 3 + 2).as("v"))
          )
        ).as("e")
      )
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val hubId = triT * 3
    val spokeEdges = spark
      .range(spokeS)
      .select(lit(hubId).as("u"), (col("id") + hubId + 1).as("v"))
    val graphEdges = triEdges
      .unionByName(spokeEdges)
      .repartition(cpus)
      .localCheckpoint(true)
    val tTri = System.nanoTime()
    // the seam engine itself (q445/q460/q474 all ride it) — the
    // degree orientation + one-hash-join closure live in
    // CoPurchaseGraph.triangles
    val triCount = graft.operators.CoPurchaseGraph
      .triangles(graphEdges)
      .count()
    val triSec = (System.nanoTime() - tTri) / 1e9
    require(triCount == triT,
      s"triangle census: got $triCount want $triT")

    // --- bounded truss peel at ~1.2M edges (q474) ----------------------
    // the triangle row's hub-adversarial graph (T disjoint triangles →
    // every edge support 1, peeled in round 1 as one 900k-edge
    // frontier; S hub spokes → support 0, class 2) plus Q disjoint
    // 4-cliques (every edge support 2 → the surviving bounded
    // 4-truss). Exercises both peel mechanisms at width: the
    // support-aggregate over 300k live triangles and the
    // frontier-kill anti-joins at 900k frontier rows.
    val clique4Q = 50000L
    val c4Base = hubId + spokeS + 1
    val clique4Edges = spark
      .range(clique4Q)
      .select(
        explode(
          array(
            (for {
              i <- 0 to 3
              j <- (i + 1) to 3
            } yield struct(
              (col("id") * 4 + c4Base + i).as("u"),
              (col("id") * 4 + c4Base + j).as("v")
            )): _*
          )
        ).as("e")
      )
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val trussEdges = graphEdges
      .unionByName(clique4Edges)
      .localCheckpoint(true)
    val tTruss = System.nanoTime()
    val trussHist = graft.operators.CoPurchaseGraph
      .boundedTrussClasses(spark, trussEdges, peelRounds = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val trussSec = (System.nanoTime() - tTruss) / 1e9
    require(
      trussHist == Map(
        2L -> spokeS,
        3L -> triT * 3,
        4L -> clique4Q * 6
      ),
      s"truss census: got $trussHist"
    )

    // --- BFS levels on a 1M-spoke hub + 4096-chain (q465) --------------
    // seed 0 — hub 1 (1M spokes at level 2, the hub-adversarial
    // frontier: ONE round emits a million-node frontier) — plus a
    // 4096-node chain hanging off the seed, far past the 20-hop cap,
    // so the cap must exit with the chain tail unreached at −1. The
    // per-round cost after the hub round is one frontier join (2
    // rows) + one anti-join against the ~1M-row visited set — the
    // visited-set probe, not the frontier, is the per-round floor;
    // measured as (t20 − t8)/12 over the 12 extra chain rounds.
    val bfsSpokes = 1000000L
    val bfsChainN = 4096L
    val chainBase = 2L + bfsSpokes
    val bfsEdges = spark
      .range(1)
      .select(lit(0L).as("u"), lit(1L).as("v"))
      .unionByName(
        spark.range(bfsSpokes).select(lit(1L).as("u"), (col("id") + 2L).as("v")))
      .unionByName(
        spark.range(1).select(lit(0L).as("u"), lit(chainBase).as("v")))
      .unionByName(
        spark
          .range(chainBase, chainBase + bfsChainN - 1)
          .select(col("id").as("u"), (col("id") + 1L).as("v")))
      .repartition(cpus)
      .localCheckpoint(true)
    val bfsSym = graft.operators.CoPurchaseGraph
      .symmetric(bfsEdges)
      .localCheckpoint(true)
    val tBfs8 = System.nanoTime()
    graft.operators.CoPurchaseGraph
      .bfsLevelHistogram(spark, bfsSym, seed = 0L, maxHops = 8)
      .count()
    val bfs8Sec = (System.nanoTime() - tBfs8) / 1e9
    val tBfs = System.nanoTime()
    val bfsHist = graft.operators.CoPurchaseGraph
      .bfsLevelHistogram(spark, bfsSym, seed = 0L, maxHops = 20)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val bfsSec = (System.nanoTime() - tBfs) / 1e9
    val bfsRoundSec = (bfsSec - bfs8Sec) / 12.0
    require(
      bfsHist(0L) == 1L && bfsHist(1L) == 2L &&
        bfsHist(2L) == bfsSpokes + 1L &&
        (3L to 20L).forall(bfsHist(_) == 1L) &&
        bfsHist(-1L) == bfsChainN - 20L,
      s"bfs levels: got $bfsHist"
    )

    // --- densest-subgraph peel: 1M-spoke star + planted K24 (q482) ----
    // hub-adversarial: the million deg-1 spokes must peel in ONE
    // round (deg·n ≤ 3·m), leaving the hub (one round from isolation)
    // and the planted 24-clique — whose density 11.04 the best-prefix
    // flag must pick over the full graph's ≈1.0. Two rounds total;
    // per-round cost is one degree aggregate + two semi-joins, no
    // wedge join anywhere.
    val dsSpokes = 1000000L
    val dsClique = 24L
    val dsBase = 2000000L
    val dsEdges = spark
      .range(dsSpokes)
      .select(lit(0L).as("u"), (col("id") + 1L).as("v"))
      .unionByName(
        spark
          // id < 23 only: sequence(start, stop) with start > stop
          // counts DOWN in Spark, which would emit a self-loop
          .range(dsClique - 1)
          .select(
            explode(
              transform(
                sequence(col("id") + 1L, lit(dsClique - 1L)),
                j => struct((col("id") + dsBase).as("u"),
                  (j + dsBase).as("v"))
              )
            ).as("e")
          )
          .select(col("e.u").as("u"), col("e.v").as("v"))
      )
      .repartition(cpus)
      .localCheckpoint(true)
    val tDs = System.nanoTime()
    val dsRows = graft.operators.CoPurchaseGraph
      .densestSubgraphPeel(spark, dsEdges, rounds = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
      .toSeq
    val dsSec = (System.nanoTime() - tDs) / 1e9
    val dsN0 = dsSpokes + 1L + dsClique
    val dsM0 = dsSpokes + dsClique * (dsClique - 1) / 2
    val dsMicro0 = (2L * dsM0 * 1000000L + dsN0) / (2L * dsN0)
    val dsM1 = dsClique * (dsClique - 1) / 2
    val dsMicro1 = (2L * dsM1 * 1000000L + dsClique + 1L) /
      (2L * (dsClique + 1L))
    require(
      dsRows == Seq(
        (0L, dsN0, dsM0, dsMicro0, 0L),
        (1L, dsClique + 1L, dsM1, dsMicro1, 1L)
      ),
      s"densest peel: got $dsRows"
    )

    // --- synchronous LP on a 100k-spoke star (q475 topology) ----------
    // the known oscillation shape that justifies the bounded-round
    // contract: round 1 → hub adopts the min spoke label (1), spokes
    // adopt the hub's (0); every later round swaps them. After the
    // capped 3 rounds: hub = 1, spokes = 0 — asserted exactly. Each
    // round is one 200k-edge join + two aggregates.
    val lpSpokes = 100000L
    val lpStarEdges = spark
      .range(lpSpokes)
      .select(lit(0L).as("u"), (col("id") + 1L).as("v"))
    val lpSym = lpStarEdges
      .select(col("u").as("a"), col("v").as("b"))
      .unionByName(lpStarEdges.select(col("v").as("a"), col("u").as("b")))
      .repartition(cpus)
      .localCheckpoint(true)
    val tLp = System.nanoTime()
    val lpHist = graft.operators.Communities
      .lpLabelsFrom(lpSym, rounds = 3)
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val lpSec = (System.nanoTime() - tLp) / 1e9
    require(lpHist == Map(0L -> lpSpokes, 1L -> 1L),
      s"lp star labels: got $lpHist")

    // --- integer HITS at the 200-degree BIGINT bound (q477) -----------
    // a 200-spoke directed star sits exactly ON the documented bound:
    // after 4 un-normalized rounds auth(spoke) = 200³ and
    // hub(hub) = 200⁴ — exact BIGINTs, asserted. One more spoke and
    // the guard must refuse (the documented fallback decision made
    // loud), asserted by the trip below.
    val hitsStar = spark
      .range(200L)
      .select(lit(0L).as("src"), (col("id") + 1L).as("dst"))
      .localCheckpoint(true)
    val tHits = System.nanoTime()
    val hitsRows = graft.operators.Communities
      .hitsFrom(hitsStar)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val hitsSec = (System.nanoTime() - tHits) / 1e9
    require(hitsRows(0L) == ((0L, 1600000000L)),
      s"hits hub: got ${hitsRows(0L)}")
    require(hitsRows(1L) == ((8000000L, 0L)),
      s"hits spoke: got ${hitsRows(1L)}")
    val hitsGuardTripped =
      try {
        graft.operators.Communities
          .hitsFrom(
            spark
              .range(250L)
              .select(lit(0L).as("src"), (col("id") + 1L).as("dst")))
          .count()
        false
      } catch { case _: IllegalArgumentException => true }
    require(hitsGuardTripped, "hits degree guard must refuse deg 250")

    // --- personalized PageRank locality at 1M nodes (q483) -------------
    // symmetric 1M-spoke star seeded at the hub, plus a disjoint
    // triangle: the ranks frame must NEVER touch the unreachable
    // component (PPR's locality is the 100 TB story — frames are
    // seed-neighborhood-sized, not graph-sized), mass must stay
    // exactly 1 on the reachable side, and hub/spoke values must
    // match the driver-side 2-state closed-form recurrence.
    val pprSpokes = 1000000L
    val pprStar = spark
      .range(pprSpokes)
      .select(lit(0L).as("u"), (col("id") + 1L).as("v"))
      .unionByName(
        spark.range(1).select(lit(5000000L).as("u"), lit(5000001L).as("v")))
      .unionByName(
        spark.range(1).select(lit(5000001L).as("u"), lit(5000002L).as("v")))
      .unionByName(
        spark.range(1).select(lit(5000000L).as("u"), lit(5000002L).as("v")))
    val pprSym = pprStar
      .select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pprStar.select(col("v").as("src"), col("u").as("dst")))
      .repartition(cpus)
      .localCheckpoint(true)
    import spark.implicits._
    val tPpr = System.nanoTime()
    val pprRanks = graft.operators.PageRank
      .personalized(pprSym, Seq(0L).toDF("id"), iterations = 6)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val pprSec = (System.nanoTime() - tPpr) / 1e9
    require(pprRanks.length == pprSpokes + 1,
      s"ppr locality: ${pprRanks.length} ranked nodes (frame leaked " +
        "into the unreachable component or dropped spokes)")
    require(pprRanks.forall(_._1 < 5000000L), "ppr reached the triangle")
    val pprMass = pprRanks.map(_._2).sum
    require(math.abs(pprMass - 1.0) < 1e-6, s"ppr mass $pprMass")
    // 2-state closed form: hub h, total spoke mass s (spokes split
    // the hub's mass evenly; every spoke returns its whole mass)
    var hm = 1.0
    var sm = 0.0
    for (_ <- 1 to 6) {
      val nh = 0.15 + 0.85 * sm
      val ns = 0.85 * hm
      hm = nh
      sm = ns
    }
    val hubRank = pprRanks.find(_._1 == 0L).get._2
    require(math.abs(hubRank - hm) < 1e-9,
      s"ppr hub rank $hubRank vs closed form $hm")

    // --- DBSCAN dense-cell adversary + bounded spread corpus (q476) ---
    // 100k points inside ONE eps-cell: the grid trick's candidate
    // bound is occupancy-bounded, so this corpus would generate
    // ~4.5·10⁹ pairs — the occupancy pre-flight must refuse it for
    // the cost of one aggregate, BEFORE any pair exists.
    val denseN = 100000L
    val densePts = spark
      .range(denseN)
      .select(
        col("id").as("vec_id"),
        (col("id").cast("double") / (denseN * 100000.0)).as("x"),
        lit(0.001).as("y")
      )
    val tDg = System.nanoTime()
    val dbscanGuardTripped =
      try {
        graft.operators.Communities.dbscanGridPoints(spark, densePts)
          .count()
        false
      } catch { case _: IllegalArgumentException => true }
    val dbscanGuardSec = (System.nanoTime() - tDg) / 1e9
    require(dbscanGuardTripped, "dbscan occupancy guard must refuse")
    // and the bounded shape at 200k points: 25k anchors of 8 points
    // each (within eps/2 of their anchor → every point is core with
    // 7 neighbors; anchors 0.1 apart → separate clusters). The
    // candidate join stays occupancy-bounded (≤ 8-ish per cell).
    val dbN = 200000L
    // NB: `/` on long columns is DOUBLE division in Spark — the
    // anchor index needs explicit floor division or every point gets
    // its own fractional "anchor" and the corpus degenerates to noise
    val anchor = floor(col("id") / 8L).cast("long")
    val dbPts = spark
      .range(dbN)
      .select(
        col("id").as("vec_id"),
        ((anchor % 500L).cast("double") * 0.1 +
          (col("id") % 8L).cast("double") * 0.0008).as("x"),
        (floor(col("id") / 4000L).cast("double") * 0.1).as("y")
      )
      .repartition(cpus)
    val tDb = System.nanoTime()
    val dbAgg = graft.operators.Communities
      .dbscanGridPoints(spark, dbPts)
      .agg(
        count(when(col("cluster") >= 0L && col("n_core") === 8L, 1)).as("c8"),
        count(when(col("cluster") >= 0L, 1)).as("nc"),
        max(when(col("cluster") === -1L, col("n_border"))).as("noise")
      )
      .collect()(0)
    val dbSec = (System.nanoTime() - tDb) / 1e9
    require(
      dbAgg.getLong(0) == dbN / 8 && dbAgg.getLong(1) == dbN / 8 &&
        dbAgg.getLong(2) == 0L,
      s"dbscan spread: got $dbAgg"
    )
    graft.util.Caches.releaseAll()

    // --- LCC census on the 1M-spoke star + planted K24 (q487) ----------
    // hub-adversarial: the orientation points every spoke AT the
    // hub, so the million deg-1 spokes contribute ZERO wedges and
    // the hub's out-degree is 0 — the wedge join touches only the
    // clique. Expected census: bucket 0 = spokes + hub (deg-1 nodes
    // report 0 by contract; the hub closes no wedge), bucket 100 =
    // the 24 clique nodes at lcc exactly 1 (tri 253 = C(23,2),
    // deg 23), 24 · 253 = 6072 triangle credits.
    val tLcc = System.nanoTime()
    val lccRows = graft.operators.Relational
      .lccBuckets(dsEdges)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val lccSec = (System.nanoTime() - tLcc) / 1e9
    require(
      lccRows == Map(
        0L -> ((dsSpokes + 1L, 0L)),
        100L -> ((24L, 6072L))
      ),
      s"lcc census: got $lccRows"
    )
    graft.util.Caches.releaseAll()

    // --- rich-club curve on the same adversarial graph (q489) ----------
    // degree domain {1, 23, 1000000}: every decile bound resolves to
    // k = 1 (the million spokes dominate the cumsum), and the club
    // above degree 1 is the hub + clique with only the 276 clique
    // edges — phi = halfUp(2·276·10⁶ / (25·24)) = 920000 on all nine
    // rows. The sweep reads two bounded histograms (3 rows each),
    // never rescanning the 1M-edge set.
    val tRc = System.nanoTime()
    val rcRows = graft.operators.Relational
      .richClubFrom(dsEdges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
      .toSeq
    val rcSec = (System.nanoTime() - tRc) / 1e9
    require(
      rcRows == (1L to 9L).map(d => (d, 1L, 25L, 276L, 920000L)),
      s"rich club: got $rcRows"
    )
    graft.util.Caches.releaseAll()

    // --- link-prediction wedge fan-out + degree guard (q488) -----------
    // a 2000-spoke star pair graph (one template doc weakly
    // overlapping 2000 others, just under the 4096 cap): the wedge
    // join fans out C(2000,2) ≈ 2M candidate pairs through the hub —
    // the documented worst center at the cap's scale. Every open
    // pair scores cn 1, ra = halfUp(10⁶/2000) = 500, neighborhood
    // Jaccard 10⁶; the top-20 tie-break must pick (1,2)..(1,21).
    val lpkSpokes = 2000L
    val lpkPairs = spark
      .range(lpkSpokes)
      .select(lit(0L).as("doc_a"), (col("id") + 1L).as("doc_b"))
      .repartition(cpus)
      .localCheckpoint(true)
    val tLpk = System.nanoTime()
    val lpkRows = graft.operators.Dedup
      .linkPredictionFrom(lpkPairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    val lpkSec = (System.nanoTime() - tLpk) / 1e9
    require(
      lpkRows == (2L to 21L).map(b => (1L, b, 1L, 500L, 1000000L)),
      s"linkpred top-20: got ${lpkRows.take(3)}..."
    )
    // and past the cap: a 5000-degree hub must be refused by the
    // degree pre-flight for the cost of one aggregate, BEFORE any
    // wedge is generated
    val lpkGuardTripped =
      try {
        graft.operators.Dedup
          .linkPredictionFrom(
            spark
              .range(5000L)
              .select(lit(0L).as("doc_a"), (col("id") + 1L).as("doc_b"))
          )
          .count()
        false
      } catch { case _: IllegalArgumentException => true }
    require(lpkGuardTripped, "linkpred degree guard must refuse deg 5000")
    graft.util.Caches.releaseAll()

    // --- bottom-k quantile sketch at 12M rows (q484 topology) ----------
    // 8 groups × 1.5M rows, uniform value domain: one scan with
    // map-side partial aggregation into ≤ 256 pairs per group — the
    // O(k)-state claim measured at width. The uniform domain pins
    // the estimates: each group's sample is 256 uniform draws, so
    // the p50 estimate must sit within the Hoeffding band of the
    // true median (±4/√k of the rank ≈ ±25% of the domain at k=256;
    // observed ~2%).
    val qsN = 12000000L
    val qsDomain = 1000000L
    val qsRows = spark
      .range(qsN)
      .select(
        (col("id") % 8L).as("grp"),
        xxhash64(col("id")).as("h"),
        (col("id") % qsDomain).as("v")
      )
    val tQs = System.nanoTime()
    val qsOut = qsRows
      .groupBy(col("grp"))
      .agg(graft.functions.QuantileSketch
        .bottomKValues(col("h"), col("v")).as("vals"))
      .select(
        col("grp"),
        size(col("vals")).as("j"),
        element_at(col("vals"), 128).as("p50")
      )
      .collect()
    val qsSec = (System.nanoTime() - tQs) / 1e9
    require(qsOut.length == 8, s"quantile sketch groups: ${qsOut.length}")
    qsOut.foreach { r =>
      require(r.getInt(1) == 256, s"sample size ${r.getInt(1)}")
      val p50 = r.getLong(2)
      require(math.abs(p50 - qsDomain / 2) < qsDomain / 4,
        s"p50 estimate $p50 outside the Hoeffding band")
    }

    // --- Hilbert curve index at 10M points (q452 topology) ------------
    // full-coverage pass over the 1024×1024 grid ~9.5×; the index is
    // a bijection on each full cover, so min/max pin the range and
    // the count pins row preservation. Narrow map, no shuffle.
    val hilN = 10000000L
    val hilPts = spark
      .range(hilN)
      .select(
        (col("id") % 1024L).as("x"),
        ((col("id") / 1024L) % 1024L).as("y")
      )
    val tHil = System.nanoTime()
    val hilRow = graft.operators.Layout
      .hilbertIndex(hilPts, 10, "x", "y", "hd")
      .agg(
        count(lit(1)).as("n"),
        min(col("hd")).as("mn"),
        max(col("hd")).as("mx")
      )
      .collect()(0)
    val hilSec = (System.nanoTime() - tHil) / 1e9
    require(hilRow.getLong(0) == hilN, "hilbert lost rows")
    require(hilRow.getLong(1) == 0L && hilRow.getLong(2) == 1048575L,
      s"hilbert range: ${hilRow.getLong(1)}..${hilRow.getLong(2)}")

    println(
      s"""{"metric":"scale_validation","docs":$nDocs,""" +
        s""""ppjoin_docs":$ppN,"ppjoin_candidates":$ppCandN,""" +
        s""""ppjoin_pairs":$ppPairs,"ppjoin_sec":$ppSec,""" +
        s""""multisignal_vectors":$msN,"multisignal_clusters":$msClusters,""" +
        s""""multisignal_clustered":$msClustered,""" +
        s""""multisignal_max_cluster":$msMaxSz,"multisignal_sec":$msSec,""" +
        s""""cumsum_rows":$cumN,"cumsum_sec":$cumSec,""" +
        s""""pps_picks":$ppsSel,"pps_sec":$ppsSec,""" +
        s""""peel_nodes":1030000,"peel_core":$aliveN,""" +
        s""""peel_rounds":$peelRounds,"peel_sec":$peelSec,""" +
        s""""pc1_cells":${nVecs * 64},"pc1_rounds":4,"pc1_sec":$pcSec,""" +
        s""""nn_eval":$nnEvalN,"nn_hits":$nnHits,"nn_sec":$nnSec,""" +
        s""""nn_cosines_per_sec":${(nVecs * nnEvalN / nnSec).round},""" +
        s""""lsh_candidate_pairs":$nCandidates,"lsh_sec":$lshSec,""" +
        s""""docs_per_sec":${(nDocs / lshSec).round},""" +
        s""""vectors":$nVecs,"ann_topk_rows":$topk,"ann_sec":$annSec,""" +
        s""""cosines_per_sec":${(nVecs * 5 / annSec).round},""" +
        s""""lsh_ann_candidates":$lshAnnCands,"lsh_ann_sec":$lshAnnSec,""" +
        s""""ann_recall_at_10":$annRecall,"ann_recall_sec":$annRecallSec,""" +
        s""""centroid_cells":$centCells,"centroid_sec":$centSec,""" +
        s""""distinct_tokens":$distinctTokens,"vocab_sec":$vocabSec,""" +
        s""""pack_windows":$nWindows,"pack_sec":$packSec,""" +
        s""""simhashes":$nSimhashes,"simhash_sec":$simSec,""" +
        s""""simhash_band_candidates":$simBandCands,""" +
        s""""simhash_band_sec":$simBandSec,""" +
        s""""bpe_rounds":${bpeMerges.length},"bpe_sec":$bpeSec,""" +
        s""""pq_topk_rows":${pqTop.length},"pq_sec":$pqSec,""" +
        s""""ivfpq_topk_rows":${ivfPqTop.length},"ivfpq_sec":$ivfPqSec,""" +
        s""""cdc_docs":${cdcAgg.getLong(0)},""" +
        s""""cdc_mean_dup":${cdcAgg.getDouble(1)},"cdc_sec":$cdcSec,""" +
        s""""lr_rounds":6,"lr_sec":$lrSec,""" +
        s""""nb_docs":${nbAgg.getLong(0)},""" +
        s""""nb_correct":${nbAgg.getLong(1)},"nb_sec":$nbSec,""" +
        s""""quality_col_sec":$qualityColSec,"quality_fused_sec":$qualityFusedSec,""" +
        s""""cc_nodes":${ccN + chainN},"cc_components":$ccComponents,""" +
        s""""cc_rounds":$ccRounds,"cc_sec":$ccSec,""" +
        s""""pipeline_survivors":$survivors,"pipeline_sec":$pipeSec,""" +
        s""""pipeline_docs_per_sec":${(nDocs / pipeSec).round},""" +
        s""""kmv_estimate":$kmvEst,"kmv_rel_err":$kmvErr,"kmv_sec":$kmvSec,""" +
        s""""rank_rows":$rankN,"rank_sec":$rankSec,""" +
        s""""prefix_max_rows":$pmN,"prefix_max_late":$lateN,""" +
        s""""prefix_max_sec":$pmSec,""" +
        s""""pagerank_nodes":$prNodes,"pagerank_sec":$prSec,""" +
        s""""kmeans_k":$kmK,"kmeans_sec":$kmSec,""" +
        s""""cms_cells":$cmsCellCount,"cms_sec":$cmsSec,""" +
        s""""span_families":$spanFamilies,"span_sec":$spanSec,""" +
        s""""winnow_fps":$winFps,"winnow_candidates":$winCands,""" +
        s""""winnow_sec":$winSec,"winnow_docs_per_sec":${(nDocs / winSec).round},""" +
        s""""jl_vectors":${jlRow.getLong(0)},"jl_sec":$jlSec,""" +
        s""""jl_vecs_per_sec":${(nVecs / jlSec).round},""" +
        s""""asof_rows":$asofLeftN,"asof_matched":$asofMatched,""" +
        s""""asof_sec":$asofSec,""" +
        s""""session_events":$sessN,"sessions":$nSessions,""" +
        s""""session_sec":$sessSec,""" +
        s""""ledger_docs":$ledDocs,"ledger_exact":$ledExact,""" +
        s""""ledger_norm":$ledNorm,"ledger_gated":$ledGated,""" +
        s""""ledger_sec":$ledSec,""" +
        s""""triangle_edges":${triT * 3 + spokeS},""" +
        s""""triangles":$triCount,"triangle_sec":$triSec,""" +
        s""""truss_edges":${triT * 3 + spokeS + clique4Q * 6},""" +
        s""""truss_c2":${trussHist(2L)},"truss_c3":${trussHist(3L)},""" +
        s""""truss_c4":${trussHist(4L)},"truss_sec":$trussSec,""" +
        s""""bfs_nodes":${2L + bfsSpokes + bfsChainN},""" +
        s""""bfs_unreached":${bfsHist(-1L)},"bfs_sec":$bfsSec,""" +
        s""""bfs_round_sec":$bfsRoundSec,""" +
        s""""densest_edges":$dsM0,"densest_best_micro":$dsMicro1,""" +
        s""""densest_sec":$dsSec,""" +
        s""""ppr_nodes":${pprSpokes + 1},"ppr_sec":$pprSec,""" +
        s""""lp_star_nodes":${lpSpokes + 1},"lp_star_sec":$lpSec,""" +
        s""""hits_star_auth":${hitsRows(1L)._1},""" +
        s""""hits_star_hub":${hitsRows(0L)._2},"hits_star_sec":$hitsSec,""" +
        s""""hits_guard_tripped":$hitsGuardTripped,""" +
        s""""dbscan_guard_pts":$denseN,""" +
        s""""dbscan_guard_tripped":$dbscanGuardTripped,""" +
        s""""dbscan_guard_sec":$dbscanGuardSec,""" +
        s""""dbscan_pts":$dbN,"dbscan_clusters":${dbAgg.getLong(1)},""" +
        s""""dbscan_sec":$dbSec,""" +
        s""""lcc_nodes":${dsSpokes + 25L},"lcc_sec":$lccSec,""" +
        s""""richclub_phi_micro":920000,"richclub_sec":$rcSec,""" +
        s""""linkpred_wedges":${lpkSpokes * (lpkSpokes - 1) / 2},""" +
        s""""linkpred_sec":$lpkSec,""" +
        s""""linkpred_guard_tripped":$lpkGuardTripped,""" +
        s""""qsketch_rows":$qsN,"qsketch_sec":$qsSec,""" +
        s""""qsketch_rows_per_sec":${(qsN / qsSec).round},""" +
        s""""hilbert_points":$hilN,"hilbert_sec":$hilSec,""" +
        s""""hilbert_points_per_sec":${(hilN / hilSec).round}}"""
    )
    spark.stop()
  }
}
