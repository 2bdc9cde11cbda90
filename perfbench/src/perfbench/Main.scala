package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark driver: one workload per JVM, closed loop, one client
  * (this thread), one `local[cores]` session configured like
  * `graft.Bench` (GraftExtensions, AQE, UTC, no UI, shuffle
  * partitions = cores).
  *
  * Prints human-readable `#` lines, then one JSON result line:
  * end-to-end metrics in an untraced run, per-layer metrics in a
  * traced one. `perfbench/run.py` builds the classes and calls this.
  *
  * Usage: perfbench.Main --workload jira_ingest|curation|corpus_build|jira_scrape
  *   --seed N --seconds S --trace 0|1 --work DIR --data DIR
  *   --certified FILE --cores N
  * or:    perfbench.Main --certify OUT_DIR --data DIR --work DIR --cores N
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: Path,
      data: Path,
      certified: Path,
      cores: Int,
      certifyOut: Option[Path]
  )

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: => String): String = m.getOrElse(k, d)
    Args(
      get("workload", ""),
      get("seed", "1").toLong,
      get("seconds", "10").toDouble,
      get("trace", "0") == "1",
      Paths.get(get("work", "perfbench-work")).toAbsolutePath,
      Paths.get(get("data", "perfbench/data/sf0.01")).toAbsolutePath,
      Paths.get(get("certified", "perfbench/certified.json")).toAbsolutePath,
      get("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      m.get("certify").map(Paths.get(_).toAbsolutePath)
    )
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** `Bench.force` with the frame's Catalyst phases recorded. */
  def force(df: DataFrame, phases: Option[PlanPhases]): Long = {
    val n = graft.Bench.force(df)
    phases.foreach(_.add(df.queryExecution.tracker))
    n
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadAtStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    Files.createDirectories(a.work)
    val spark = session(a.cores, a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    var result: Option[String] = None
    var ok = false
    try {
      a.certifyOut match {
        case Some(out) =>
          Curation.certify(spark, a.data, out)
          ok = true
        case None =>
          val ctx = new Context(spark, a, sessionS)
          val r = a.workload match {
            case "jira_ingest" => new JiraIngest(ctx).run()
            case "corpus_build" => new CorpusBuild(ctx).run()
            case "jira_scrape" => new JiraScrape(ctx).run()
            case "curation" => new Curation(ctx).run()
            case w => throw new IllegalArgumentException(s"unknown workload '$w'")
          }
          if (a.trace)
            Files.write(a.work.resolve("trace.json"), ctx.tracer.json.getBytes("UTF-8"))
          result = Some(report(a, ctx, r, loadAtStart))
          ok = true
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
    } finally {
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    }
    // printed after spark.stop(), so no shutdown output follows it
    if (ok) result.foreach(println)
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Prints the run's `#` lines; returns its JSON result line. */
  private def report(a: Args, ctx: Context, r: Outcome, load: Double): String = {
    val rt = Runtime.getRuntime
    println(
      s"""# meta {"workload":"${a.workload}","seed":${a.seed},"seconds":${num(a.seconds)},""" +
        s""""trace":${a.trace},"loadavg_1m":${num(load)},"nproc":${rt.availableProcessors},""" +
        s""""cores":${a.cores},"heap_max_mb":${rt.maxMemory / (1024 * 1024)},""" +
        s""""jdk":"${System.getProperty("java.version")}","spark":"${ctx.spark.version}",""" +
        s""""inputs":${r.inputs}}""")
    r.notes.foreach(n => println(s"# $n"))
    for ((k, (v, unit, n)) <- r.e2e)
      println(f"# e2e   $k%-34s ${num(v)}%14s $unit%-6s n=$n")
    println(f"# e2e   failed_share                       ${num(r.failedShare)}%14s ratio  " +
      s"n=${r.attempted} (failed=${r.failed})")
    if (a.trace) {
      for ((k, (v, unit)) <- r.layers)
        println(f"# layer $k%-44s ${num(v)}%14s $unit")
    }
    val metrics =
      if (a.trace) r.layers.map { case (k, (v, u)) => k -> (v, u) }
      else r.e2e.map { case (k, (v, u, _)) => k -> (v, u) }
    val body = metrics
      .map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString(",")
    s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":{$body}}"""
  }
}

/** What every workload shares: the session, its arguments, the tracer
  * and, in a traced run, the Spark and Catalyst listeners.
  */
final class Context(val spark: SparkSession, val args: Main.Args, val sessionS: Double) {
  val tracer = new Tracer(args.trace, spark.sparkContext)
  val exec: Option[ExecListener] =
    if (args.trace) Some(new ExecListener) else None
  val phases: Option[PlanPhases] =
    if (args.trace) Some(new PlanPhases) else None
  exec.foreach(spark.sparkContext.addSparkListener)
  phases.foreach(spark.listenerManager.register)

  def coldStart(): Unit = {
    graft.util.Caches.releaseAll()
    spark.catalog.clearCache()
  }
}

/** A workload's result: end-to-end metrics (value, unit, samples),
  * per-layer metrics, the operation tally and notes for the log.
  */
final class Outcome {
  val e2e = mutable.LinkedHashMap[String, (Double, String, Int)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  var inputs = "{}"
  var attempted = 0
  var failed = 0

  def failedShare: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  /** Runs one operation: it fails if it throws or returns `None`. */
  def op[T](what: String)(body: => Option[T]): Option[T] = {
    attempted += 1
    val r =
      try body
      catch {
        case e: Exception =>
          notes += s"FAILED $what: $e"
          None
      }
    if (r.isEmpty) failed += 1
    r
  }

  def check(what: String, ok: Boolean): Boolean = {
    if (!ok) notes += s"CHECK FAILED: $what"
    ok
  }
}
