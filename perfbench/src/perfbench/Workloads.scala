package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.io.Sinks
import graft.jira._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Names, units and order of every per-layer metric. A traced run
  * prints all of them; a layer a workload does not exercise reads 0.
  */
object Layers {
  val Queries: Seq[String] = Seq("q39_pipeline_e2e", "q37_simhash_pairs",
    "q44_fuzzy_pairs", "q182_source_minhash", "q133_bm25_topk", "q25_ivf_topk",
    "q91_bigram_xent")

  /** The metrics `BENCHMARK.json` declares, printed by every workload. */
  val all: Seq[(String, String)] = Seq(
    "jira_source.plan_s" -> "s", "jira_source.scan_s" -> "s",
    "jira_source.pages" -> "count", "jira_source.issues_per_page" -> "issues/page",
    "read_raw.scan_s" -> "s", "read_raw.rows" -> "count",
    "flatten.self_s" -> "s", "flatten.rows_in" -> "count",
    "flatten.rows_out" -> "count", "flatten.dropped" -> "count"
  ) ++ (for {
    q <- Queries; pass <- Seq("cold", "warm"); part <- Seq("construct_s", "plan_s", "exec_s")
  } yield s"op.$q.$pass.$part" -> "s") ++ Seq(
    "caches.pinned" -> "count", "caches.cached_mb" -> "MB", "caches.derive_share" -> "ratio",
    "plan.analyze_s" -> "s", "plan.optimize_s" -> "s", "plan.physical_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_busy_s" -> "s", "exec.busy_share" -> "ratio",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.gc_s" -> "s", "exec.max_task_skew" -> "ratio"
  )

  /** Generator, sink and stats layers: only `corpus_build` and
    * `jira_scrape` run them, and `BENCHMARK.json` does not declare
    * those two workloads (see perfbench/README.md).
    */
  val examples: Seq[(String, String)] = Seq(
    "generate.self_s" -> "s", "generate.examples" -> "count",
    "generate.examples_per_issue" -> "ratio",
    "sinks.corpus_write_s" -> "s", "sinks.stats_write_s" -> "s",
    "sinks.mb_written" -> "MB", "sinks.write_tasks" -> "count",
    "stats.self_s" -> "s", "jira_main.residual_s" -> "s"
  )
}

/** Wall and process CPU seconds of one operation. */
final case class Sample(wall: Double, cpu: Double) {
  def +(o: Sample): Sample = Sample(wall + o.wall, cpu + o.cpu)
  def /(n: Int): Sample = Sample(wall / n, cpu / n)
}

object Sample {
  val zero: Sample = Sample(0, 0)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this JVM (user + system, all threads: executor
    * tasks, driver, GC and JIT compiler) since it started.
    */
  def cpuNow: Double = os.getProcessCpuTime / 1e9

  def since(wallNs: Long, cpuS: Double): Sample =
    Sample((System.nanoTime() - wallNs) / 1e9, cpuNow - cpuS)
}

/** Steal share of the host's CPU time (`/proc/stat`): the time the
  * hypervisor ran other guests on this machine's vCPUs. Logged with
  * every run: on a shared virtual machine it is what moves wall times.
  */
object Steal {
  def ticks(): Option[(Long, Long)] =
    try {
      val f = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      if (f.length > 7) Some((f(7), f.sum)) else None
    } catch { case _: Exception => None }

  def share(from: Option[(Long, Long)], to: Option[(Long, Long)]): String =
    (for ((s0, t0) <- from; (s1, t1) <- to if t1 > t0)
      yield f"${(s1 - s0).toDouble / (t1 - t0)}%.3f").getOrElse("n/a")
}

/** Warm-up, measured loop and reporting shared by the workloads.
  *
  * The unit of work is one cold and one warm operation. A run warms up
  * with `warmupUnits` units, then measures ceil(seconds / nominalUnitS)
  * units: the count depends only on `--seconds`, so every run measures
  * the same sequence (the JVM is still warming up, and a count that
  * followed the clock would move the medians with machine load), and on
  * a 4-core machine the loop takes about `--seconds`.
  *
  * The end-to-end metrics are CPU seconds of the benchmark's JVM, not
  * wall seconds: on a shared virtual machine whose hypervisor steals a
  * varying share of the vCPUs (7-35 % measured on a 4-vCPU VM), the
  * same run's wall times moved up to 1.9x between minutes while its
  * CPU times moved about a tenth. Wall times are logged beside them.
  * `setup_s` is the JVM's CPU seconds from its start to the end of the
  * warm-up: session start, input generation, the untimed reference
  * checks and the warm-up units.
  */
abstract class Workload(ctx: Context) {
  import ctx._
  protected val o = new Outcome
  protected val cold = ArrayBuffer[Sample]()
  protected val warm = ArrayBuffer[Sample]()
  private var cachedPeak = 0.0

  protected def nominalUnitS: Double
  protected def warmupUnits: Int

  /** Inputs and reference results; returns the wall seconds of input
    * generation, for the log.
    */
  protected def prepare(): Double

  /** One cold and one warm operation (`i` < 0 while warming up);
    * their samples when both passed their checks.
    */
  protected def unit(i: Int): Option[(Sample, Sample)]

  /** Layer metrics a traced run adds after the measured loop. */
  protected def layers(): Unit = ()

  /** The per-layer metrics a traced run prints. */
  protected def layerNames: Seq[(String, String)] = Layers.all

  protected val exampleShape: Seq[String] =
    Seq("task_type", "instruction", "input", "output", "metadata")

  protected def untimedOp(what: String)(ok: => Boolean): Unit =
    o.op(what)(if (ok) Some(()) else None)

  protected def timedOp(what: String)(body: => Boolean): Option[Sample] = {
    val (t0, c0) = (System.nanoTime(), Sample.cpuNow)
    o.op(what) {
      val ok = body
      val t = Sample.since(t0, c0)
      if (args.trace) cachedPeak = math.max(cachedPeak, Instruments.cachedMb(spark))
      if (ok) Some(t) else None
    }
  }

  protected def layer(name: String, v: Double): Unit = o.layers(name) = (v, o.layers(name)._2)

  def run(): Outcome = {
    layerNames.foreach { case (k, u) => o.layers(k) = (0.0, u) }
    val genS = prepare()
    val t0 = System.nanoTime()
    (1 to warmupUnits).foreach(i => unit(-i))
    val warmupS = (System.nanoTime() - t0) / 1e9
    o.e2e("setup_s") = (Sample.cpuNow, "s", 1)
    o.notes += f"setup: ${Sample.cpuNow}%.3f CPU s; wall: session ${ctx.sessionS}%.3f s + " +
      f"inputs $genS%.3f s + warm-up ($warmupUnits unit) $warmupS%.3f s"

    Instruments.drain(spark)
    exec.foreach(_.reset())
    phases.foreach(_.reset())
    val units = math.max(1, math.ceil(args.seconds / nominalUnitS).toInt)
    val (l0, st0, ops0) = (System.nanoTime(), Steal.ticks(), o.attempted)
    for (i <- 0 until units) unit(i).foreach { case (c, w) => cold += c; warm += w }
    val loopS = (System.nanoTime() - l0) / 1e9
    Instruments.drain(spark)
    o.notes += f"measured $units unit(s) in $loopS%.3f s (wall); host steal share " +
      Steal.share(st0, Steal.ticks())
    if (args.trace) traced(o.attempted - ops0, loopS)
    finish()
  }

  private def traced(ops: Int, loopS: Double): Unit = {
    val c = coldS
    layer("caches.cached_mb", cachedPeak)
    layer("caches.derive_share", if (c > 0) (c - warmS) / c else 0.0)
    phases.foreach { p =>
      layer("plan.analyze_s", p.analyze.sum / ops)
      layer("plan.optimize_s", p.optimize.sum / ops)
      layer("plan.physical_s", p.physical.sum / ops)
    }
    exec.foreach { e =>
      val mb = 1024.0 * 1024.0
      layer("exec.jobs", e.jobs.get.toDouble / ops)
      layer("exec.stages", e.stages.get.toDouble / ops)
      layer("exec.tasks", e.tasks.get.toDouble / ops)
      layer("exec.task_busy_s", e.busyMs.get / 1000.0 / ops)
      layer("exec.busy_share", e.busyMs.get / 1000.0 / (loopS * args.cores))
      layer("exec.shuffle_write_mb", e.shuffleWrite.get / mb / ops)
      layer("exec.shuffle_read_mb", e.shuffleRead.get / mb / ops)
      layer("exec.spill_mb", e.spill.get / mb / ops)
      layer("exec.gc_s", e.gcMs.get / 1000.0 / ops)
      layer("exec.max_task_skew", e.maxSkew)
    }
    layers()
  }

  /** `cold_s` and `warm_s`: the medians over the measured units. */
  protected def coldS: Double = Main.median(cold.map(_.cpu).toSeq)
  protected def warmS: Double = Main.median(warm.map(_.cpu).toSeq)

  private def finish(): Outcome = {
    o.e2e("cold_s") = (coldS, "s", cold.size)
    o.e2e("warm_s") = (warmS, "s", warm.size)
    for ((name, xs) <- Seq("cold" -> cold, "warm" -> warm)) {
      o.notes += s"$name CPU s: ${xs.map(v => f"${v.cpu}%.3f").mkString(" ")}"
      o.notes += s"$name wall s: ${xs.map(v => f"${v.wall}%.3f").mkString(" ")} " +
        f"(median ${Main.median(xs.map(_.wall).toSeq)}%.3f)"
    }
    o
  }
}

/** Shared by the JIRA workloads: the seeded inputs and the `jira`
  * source over their stub pages.
  */
abstract class JiraWorkload(ctx: Context, stubPages: Boolean) extends Workload(ctx) {
  import ctx._
  protected val inputs: Path = args.work.resolve("inputs")
  protected val projects: Seq[(String, String)] =
    JiraInputs.Projects.map(p => p -> JiraInputs.rawPath(inputs, p).toString)
  protected var props: JiraInputs.Props = _

  /** Generates the inputs three times; returns the median wall seconds. */
  protected def prepare(): Double = {
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val p = JiraInputs.write(inputs, args.seed, stubPages)
      (p, (System.nanoTime() - t0) / 1e9)
    }
    props = runs.head._1
    o.inputs = props.json
    untimedOp("input generation")(o.check("the generator writes identical bytes for one seed",
      runs.map(_._1.sha256).distinct.size == 1))
    Main.median(runs.map(_._2))
  }

  protected def source(p: String): DataFrame =
    spark.read.format("jira")
      .option("stubDir", JiraInputs.stubDir(inputs, p).toString)
      .option("project", p)
      .option("pageSize", JiraInputs.PageSize.toString)
      .load()

  /** The source planned (`load()` + `executedPlan`, probe included)
    * and scanned on its own, with spans; (frame, pages, rows).
    */
  protected def tracedSource(p: String): (DataFrame, Long, Long) = {
    val raw = tracer.span("jira_source.plan") {
      val df = source(p)
      df.queryExecution.executedPlan
      df
    }
    val pages = raw.queryExecution.toRdd.getNumPartitions.toLong
    (raw, pages, tracer.span("jira_source.scan")(graft.Bench.force(raw)))
  }

  protected def sourceLayers(pages: Long, rows: Long): Unit = {
    layer("jira_source.plan_s", tracer.seconds("jira_source.plan"))
    layer("jira_source.scan_s", tracer.seconds("jira_source.scan"))
    layer("jira_source.pages", pages.toDouble)
    layer("jira_source.issues_per_page", rows.toDouble / math.max(1L, pages))
  }
}

/** `jira_ingest`: the seeded issues read both ways the program reads
  * JIRA data, as stub pages through the DSv2 `jira` source and as raw
  * JSONL through `JiraPipeline.readRaw`, each flattened by
  * `JiraFlatten.flatten` and materialised with `Bench.force`; no
  * generator, no sink. A cold ingest builds and plans new frames
  * (source probe included); the warm one executes them again.
  *
  * Checked once per run, untimed: the flattened (issue_key, status,
  * comment_count) multiset equals the generator's ground truth, and
  * both paths give the same flattened digest. Every timed pass must
  * produce that digest's row count on both paths.
  */
final class JiraIngest(ctx: Context) extends JiraWorkload(ctx, stubPages = true) {
  import ctx._
  protected val nominalUnitS = 1.6
  protected val warmupUnits = 5
  private var rows = 0L

  private def viaSource(): DataFrame =
    JiraInputs.Projects.map(p => JiraFlatten.flatten(source(p), p)).reduce(_.unionByName(_))

  private def viaRaw(): DataFrame =
    projects.map { case (p, path) => JiraFlatten.flatten(JiraPipeline.readRaw(spark, path), p) }
      .reduce(_.unionByName(_))

  override protected def prepare(): Double = {
    val genS = super.prepare()
    untimedOp("flattened issues") {
      import spark.implicits._
      val got = viaSource().select("issue_key", "status", "comment_count").as[(String, String, Int)]
        .collect().map { case (k, s, c) => s"$k|$s|$c" }.sorted.toSeq
      val truth = o.check(s"flattened (issue_key, status, comment_count) = the generator's " +
        s"${props.expected.size} kept issues (got ${got.size})", got == props.expected)
      val (a, b) = (Digest.of(viaSource()), Digest.of(viaRaw()))
      rows = a.rows
      o.notes += s"flattened digest via the jira source $a, via readRaw $b"
      o.check("flatten via the jira source = flatten via readRaw", a == b) && truth
    }
    genS
  }

  protected def unit(i: Int): Option[(Sample, Sample)] = {
    var dfs = Seq.empty[DataFrame]
    for {
      c <- timedOp(s"cold ingest $i")(tracer.span("jira_ingest.cold") {
        dfs = Seq(viaSource(), viaRaw())
        dfs.map(Main.force(_, phases)).forall(_ == rows)
      })
      w <- timedOp(s"warm ingest $i")(tracer.span("jira_ingest.warm") {
        dfs.map(Main.force(_, phases)).forall(_ == rows)
      })
    } yield (c, w)
  }

  /** Source, readRaw and flatten forced one at a time, with spans. */
  override protected def layers(): Unit = {
    var pages, srcRows, rawRows, flatRows = 0L
    for ((p, path) <- projects) {
      val (src, n, r) = tracedSource(p)
      pages += n
      srcRows += r
      flatRows += tracer.span("flatten.source")(graft.Bench.force(JiraFlatten.flatten(src, p)))
      rawRows += tracer.span("read_raw")(graft.Bench.force(JiraPipeline.readRaw(spark, path)))
      flatRows += tracer.span("flatten.raw")(
        graft.Bench.force(JiraFlatten.flatten(JiraPipeline.readRaw(spark, path), p)))
    }
    sourceLayers(pages, srcRows)
    layer("read_raw.scan_s", tracer.seconds("read_raw"))
    layer("read_raw.rows", rawRows.toDouble)
    layer("flatten.self_s", tracer.seconds("flatten.source") - tracer.seconds("jira_source.scan") +
      tracer.seconds("flatten.raw") - tracer.seconds("read_raw"))
    layer("flatten.rows_in", (srcRows + rawRows).toDouble)
    layer("flatten.rows_out", flatRows.toDouble)
    layer("flatten.dropped", (srcRows + rawRows - flatRows).toDouble)
  }
}

/** The two JIRA workloads that end in training examples. Their
  * reference is the typed twin `JiraGeneratorsTyped` over the same
  * flattened issues (computed once per run, not timed).
  */
abstract class ExampleWorkload(ctx: Context, stubPages: Boolean)
    extends JiraWorkload(ctx, stubPages) {
  import ctx._
  private var refByType: Map[String, Digest.Value] = _
  protected var ref: Digest.Value = _

  override protected def layerNames: Seq[(String, String)] = Layers.all ++ Layers.examples

  override protected def prepare(): Double = {
    val genS = super.prepare()
    import spark.implicits._
    val flat = projects
      .map { case (p, path) => JiraFlatten.flatten(JiraPipeline.readRaw(spark, path), p) }
      .reduce(_.unionByName(_))
    refByType = Digest.byColumn(
      JiraGeneratorsTyped.generate(flat.as[IssueRecord]).toDF(), Some("task_type"))
    ref = refByType.values.reduce(_ + _)
    o.notes += s"reference (JiraGeneratorsTyped) digest $ref"
    genS
  }

  /** Compares `examples` with the reference multiset, per task type. */
  protected def sameExamples(what: String, examples: DataFrame): Boolean = {
    val got = Digest.byColumn(examples, Some("task_type"))
    o.notes += s"$what digest ${got.values.reduce(_ + _)}"
    val differ = (got.keySet ++ refByType.keySet).toSeq.sorted
      .filter(t => got.get(t) != refByType.get(t))
    if (differ.nonEmpty) o.notes += s"task types whose examples differ: ${differ.mkString(", ")}"
    o.check(s"$what multiset = JiraGeneratorsTyped", differ.isEmpty)
  }
}

/** `corpus_build`: `JiraMain.run` from raw JSONL to per-project JSONL,
  * the merged ordered corpus and the stats files. A cold build starts
  * with every cache released; the warm build that follows reuses the
  * example caches the cold one left.
  */
final class CorpusBuild(ctx: Context) extends ExampleWorkload(ctx, stubPages = false) {
  import ctx._
  protected val nominalUnitS = 6.0
  protected val warmupUnits = 1
  private val outDir = args.work.resolve("out")
  private val mergedDir = outDir.resolve("merged_corpus.jsonl")
  private var firstSha: Option[String] = None

  private def build(): JiraMain.Result = JiraMain.run(spark, projects, outDir.toString)

  /** (sha256, lines) of the merged corpus part files, in name order. */
  private def mergedFile(): (String, Long) = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    var lines = 0L
    Files.list(mergedDir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .foreach { f =>
        val b = Files.readAllBytes(f)
        sha.update(b)
        lines += b.count(_ == '\n')
      }
    (sha.digest().map("%02x".format(_)).mkString, lines)
  }

  private def verify(r: JiraMain.Result): Boolean = {
    val (sha, lines) = mergedFile()
    val total = r.combined.getAs[Any]("total_examples").toString.toLong
    val first = firstSha.isEmpty
    if (first) firstSha = Some(sha)
    val same = o.check("merged corpus SHA-256 identical across builds", firstSha.contains(sha))
    val counts = o.check(s"lines $lines = mergedCount ${r.mergedCount} = per-project " +
      s"${r.perProjectCounts.values.sum} = combined total $total",
      lines == r.mergedCount && r.perProjectCounts.values.sum == r.mergedCount &&
        total == r.mergedCount)
    val multiset = !first || sameExamples("merged corpus",
      spark.read.schema(Encoders.product[TrainingExample].schema).json(mergedDir.toString))
    same && counts && multiset
  }

  protected def unit(i: Int): Option[(Sample, Sample)] = {
    ctx.coldStart()
    for {
      c <- timedOp(s"cold build $i")(tracer.span("corpus_build.cold")(verify(build())))
      w <- timedOp(s"warm build $i")(tracer.span("corpus_build.warm")(verify(build())))
    } yield (c, w)
  }

  /** Each layer called on its own, with a span around the call. */
  override protected def layers(): Unit = {
    ctx.coldStart()
    def raw(path: String) = JiraPipeline.readRaw(spark, path)
    var rows, examples = 0L
    val flatCounts = for ((p, path) <- projects) yield {
      rows += tracer.span("read_raw")(graft.Bench.force(raw(path)))
      val n = tracer.span("flatten")(graft.Bench.force(JiraFlatten.flatten(raw(path), p)))
      examples += tracer.span("generate")(
        graft.Bench.force(JiraGenerators.generate(JiraFlatten.flatten(raw(path), p))))
      p -> n
    }
    val flatRows = flatCounts.map(_._2).sum
    // the sinks are timed over cached examples, so the spans hold the
    // writes alone
    val keys = Seq("project_rank", "created", "issue_key", "task_rank")
    val exs = projects.zipWithIndex.map { case ((p, path), rank) =>
      JiraGenerators.generate(JiraFlatten.flatten(raw(path), p))
        .withColumn("project_rank", lit(rank)).cache()
    }
    exs.foreach(graft.Bench.force)
    val out = args.work.resolve("layers").toString
    val merged = exs.reduce(_.unionByName(_))
    tracer.span("sinks.corpus_write") {
      exs.zip(projects).foreach { case (e, (p, _)) =>
        Sinks.writeJsonlSingleFile(e, s"$out/${p}_examples.jsonl", keys, exampleShape)
      }
      Sinks.writeJsonlSingleFile(merged, s"$out/merged_corpus.jsonl", keys, exampleShape)
    }
    val (stats, combined) = tracer.span("stats") {
      import spark.implicits._
      val st = JiraStats.perProject(merged).cache()
      graft.Bench.force(st)
      val cb = JiraStats.combined(st, flatCounts.toDF("project", "raw_issues_count"), Some(0.0))
        .cache()
      graft.Bench.force(cb)
      (st, cb)
    }
    tracer.span("sinks.stats_write") {
      Sinks.writeStatsJson(stats, s"$out/per_project_stats.json")
      Sinks.writeStatsJson(combined, s"$out/combined_stats.json")
    }
    Instruments.drain(spark)
    val readS = tracer.seconds("read_raw")
    val flatS = tracer.seconds("flatten") - readS
    val genS = tracer.seconds("generate") - tracer.seconds("flatten")
    val Seq(writeS, statsS, statsWriteS) =
      Seq("sinks.corpus_write", "stats", "sinks.stats_write").map(tracer.seconds)
    layer("read_raw.scan_s", readS)
    layer("read_raw.rows", rows.toDouble)
    layer("flatten.self_s", flatS)
    layer("flatten.rows_in", rows.toDouble)
    layer("flatten.rows_out", flatRows.toDouble)
    layer("flatten.dropped", (rows - flatRows).toDouble)
    layer("generate.self_s", genS)
    layer("generate.examples", examples.toDouble)
    layer("generate.examples_per_issue", examples.toDouble / math.max(1L, flatRows))
    layer("sinks.corpus_write_s", writeS)
    layer("stats.self_s", statsS)
    layer("sinks.stats_write_s", statsWriteS)
    layer("sinks.mb_written", Sinks.fileSizeMb(outDir.toString))
    layer("sinks.write_tasks", exec.map { e =>
      Seq("sinks.corpus_write", "sinks.stats_write")
        .flatMap(s => Option(e.tasksBySpan.get(s))).map(_.get).sum.toDouble
    }.getOrElse(0.0))
    layer("jira_main.residual_s",
      Main.median(cold.map(_.wall).toSeq) - (readS + flatS + genS + writeS + statsS + statsWriteS))
    (exs :+ stats :+ combined).foreach(_.unpersist())
  }
}

/** `jira_scrape`: the same issues as stub pages through the DSv2
  * `jira` source, `JiraFlatten.flatten` and `JiraGenerators.generate`,
  * materialised with `Bench.force` and no sink. A cold scrape builds
  * and plans new frames (source probe included); the warm one executes
  * the cold one's frame again.
  */
final class JiraScrape(ctx: Context) extends ExampleWorkload(ctx, stubPages = true) {
  import ctx._
  protected val nominalUnitS = 1.5
  protected val warmupUnits = 4

  private def scrape(): DataFrame =
    JiraInputs.Projects
      .map(p => JiraGenerators.generate(JiraFlatten.flatten(source(p), p))
        .select(exampleShape.map(col): _*))
      .reduce(_.unionByName(_))

  override protected def prepare(): Double = {
    val genS = super.prepare()
    untimedOp("scraped example multiset")(sameExamples("scraped examples", scrape()))
    genS
  }

  protected def unit(i: Int): Option[(Sample, Sample)] = {
    var df: DataFrame = null
    for {
      c <- timedOp(s"cold scrape $i")(tracer.span("jira_scrape.cold") {
        df = scrape()
        Main.force(df, phases) == ref.rows
      })
      w <- timedOp(s"warm scrape $i")(tracer.span("jira_scrape.warm") {
        Main.force(df, phases) == ref.rows
      })
    } yield (c, w)
  }

  /** Source, flatten and generate forced one at a time, with spans. */
  override protected def layers(): Unit = {
    var pages, rows, flatRows, examples = 0L
    for (p <- JiraInputs.Projects) {
      val (raw, n, r) = tracedSource(p)
      pages += n
      rows += r
      flatRows += tracer.span("flatten")(graft.Bench.force(JiraFlatten.flatten(raw, p)))
      examples += tracer.span("generate")(
        graft.Bench.force(JiraGenerators.generate(JiraFlatten.flatten(raw, p))))
    }
    sourceLayers(pages, rows)
    layer("flatten.self_s", tracer.seconds("flatten") - tracer.seconds("jira_source.scan"))
    layer("flatten.rows_in", rows.toDouble)
    layer("flatten.rows_out", flatRows.toDouble)
    layer("flatten.dropped", (rows - flatRows).toDouble)
    layer("generate.self_s", tracer.seconds("generate") - tracer.seconds("flatten"))
    layer("generate.examples", examples.toDouble)
    layer("generate.examples_per_issue", examples.toDouble / math.max(1L, flatRows))
  }
}

/** `curation`: curation operators over the fixed sf0.01 tables. The
  * seed only permutes the query order of each round. Each query runs
  * cold (caches and memos released) and then warm, twice; every pass's
  * digest, computed in the timed action, must equal the certified one.
  */
final class Curation(ctx: Context) extends Workload(ctx) {
  import ctx._
  protected val nominalUnitS = 12.0
  protected val warmupUnits = 1
  /** Warm passes are short, so each query gets two per round. */
  private val warmPasses = 2
  private val queries = graft.SparkEntry.queries
  private val dir = args.data.toString
  private val certified = Curation.readCertified(args.certified)
  private val rnd = new scala.util.Random(args.seed)
  private val parts = Seq("construct_s", "plan_s", "exec_s")
  private val split = (for (q <- Layers.Queries; p <- Seq("cold", "warm"); part <- parts)
    yield s"op.$q.$p.$part" -> ArrayBuffer[Double]()).toMap
  private val pinned = ArrayBuffer[Double]()
  private val passS = (for (q <- Layers.Queries; p <- Seq("cold", "warm"))
    yield (q, p) -> ArrayBuffer[Double]()).toMap

  /** The sum over the mix of each query's median pass (CPU s): one
    * slow pass moves it less than it moves the median of whole rounds.
    */
  private def mixS(p: String): Double =
    Layers.Queries.map(q => Main.median(passS((q, p)).toSeq)).sum
  override protected def coldS: Double = {
    o.notes += "median CPU s per query (cold/warm): " + Layers.Queries.map { q =>
      f"$q ${Main.median(passS((q, "cold")).toSeq)}%.2f/${Main.median(passS((q, "warm")).toSeq)}%.2f"
    }.mkString(", ")
    mixS("cold")
  }
  override protected def warmS: Double = mixS("warm")

  protected def prepare(): Double = {
    val missing = Layers.Queries.filterNot(certified.contains)
    require(missing.isEmpty, s"no certified digest for ${missing.mkString(", ")}")
    0.0
  }

  /** One pass, timed as construct (the operator call with its eager
    * derive jobs), plan (analyzed → optimized → physical) and exec.
    */
  private def pass(q: String, p: String, record: Boolean): Boolean = {
    val t0 = System.nanoTime()
    val df = tracer.span(s"op.$q.$p.construct")(queries(q)(spark, dir))
    val t1 = System.nanoTime()
    tracer.span(s"op.$q.$p.plan") {
      val qe = df.queryExecution
      qe.analyzed; qe.optimizedPlan; qe.executedPlan
    }
    val t2 = System.nanoTime()
    val d = tracer.span(s"op.$q.$p.exec")(Digest.of(df))
    val t3 = System.nanoTime()
    phases.foreach(_.add(df.queryExecution.tracker))
    if (record) Seq(t1 - t0, t2 - t1, t3 - t2).zip(parts).foreach { case (ns, part) =>
      split(s"op.$q.$p.$part") += ns / 1e9
    }
    o.check(s"$q $p digest $d = certified ${certified.getOrElse(q, "?")}",
      certified.get(q).contains(d.toString))
  }

  /** A round: every query of the mix cold then warm, in seeded order;
    * the round's warm sample is the mean of its warm passes.
    */
  protected def unit(i: Int): Option[(Sample, Sample)] = {
    var c, w = Sample.zero
    var pins = 0
    var ok = true
    def timedPass(q: String, p: String): Option[Sample] = {
      val t = timedOp(s"$q $p")(pass(q, p, i >= 0))
      if (i >= 0) t.foreach(passS((q, p)) += _.cpu)
      ok &&= t.isDefined
      t
    }
    for (q <- rnd.shuffle(Layers.Queries)) {
      ctx.coldStart()
      timedPass(q, "cold").foreach(c += _)
      pins += graft.util.Caches.pinnedCount
      for (_ <- 1 to warmPasses) timedPass(q, "warm").foreach(w += _ / warmPasses)
    }
    if (i >= 0) pinned += pins
    if (ok) Some((c, w)) else None
  }

  override protected def layers(): Unit = {
    for ((name, xs) <- split) layer(name, Main.median(xs.toSeq))
    layer("caches.pinned", Main.median(pinned.toSeq))
  }
}

object Curation {

  /** `{"q..": "rows:sumhex", ...}` from the certified-digest file. */
  def readCertified(p: Path): Map[String, String] = {
    val s = new String(Files.readAllBytes(p), "UTF-8")
    "\"(q\\d+_\\w+)\"\\s*:\\s*\"(\\d+:[0-9a-f]{16})\"".r
      .findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Runs each curation query once on `data`, writes its result as
    * parquet under `out/<query>/`, its digest to `out/digests.json` and
    * its DuckDB oracle to `out/oracle_sql.json`, for `certify.py`.
    */
  def certify(spark: SparkSession, data: Path, out: Path): Unit = {
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t") + "\""
    val digests = Layers.Queries.map { name =>
      graft.util.Caches.releaseAll()
      spark.catalog.clearCache()
      val df = queries(name)(spark, data.toString)
      val d = Digest.of(df)
      df.write.mode("overwrite").parquet(out.resolve(name).toString)
      println(s"# $name $d")
      name -> d.toString
    }
    Files.write(out.resolve("digests.json"),
      digests.map { case (k, v) => s"  ${q(k)}: ${q(v)}" }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    Files.write(out.resolve("oracle_sql.json"),
      Layers.Queries.map(n => s"  ${q(n)}: ${q(oracle(n))}").mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
}
