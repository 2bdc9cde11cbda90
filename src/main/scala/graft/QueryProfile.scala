package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftbridge.PlanBridge
import scala.collection.mutable.ArrayBuffer

/** Dev profiler for SparkEntry queries: one JSON line per query with
  * its layer split, each query cache-cold as in Bench.
  *
  *   - `analyze_s`, `tree_nodes`, `cached_subtrees`: construct+analyze
  *     time of a fresh construction after the runs (after one untimed
  *     construction when `--runs 0`; the first is JIT/classload-noisy),
  *     the analyzed tree's size, and how many of its subtrees
  *     CacheManager recognises — whether a steady-state pass hits the
  *     caches the earlier runs populated.
  *   - `plan_s`, `hash_exchanges`, `joins`: optimize+plan time of that
  *     construction and the join strategies/exchanges of its physical
  *     plan.
  *   - `codegen_fallback`: the physical operators of that plan (and its
  *     subqueries) holding a `CodegenFallback` expression, as
  *     `Operator[expr,...]`; such an operator stays out of whole-stage
  *     codegen.
  *   - `cold`, `warm`: run 1 and runs 2..N, each constructed afresh and
  *     forced with [[Bench.force]], with its row count and
  *     `janino_compiles`, the classes Janino compiled during the run
  *     (`CodegenMetrics`; a codegen cache hit compiles nothing).
  *   - `--stages TOP`: the last run's TOP stages by summed task time
  *     (the local stand-in for the Spark UI's stage table).
  *   - `--plan MODE`: the explain string (simple, extended, codegen,
  *     cost or formatted).
  *
  * Usage: tools/run.sh graft.QueryProfile <names|prefixes|all> [sfDir]
  *   [--runs N] [--plan MODE] [--stages TOP]
  * (comma-separated name prefixes; sfDir defaults to Bench's
  * SPARK_GRAFT_SF_DIR; 3 runs by default).
  */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    def usage(): Nothing = {
      System.err.println("usage: graft.QueryProfile <names|prefixes|all> " +
        "[sfDir] [--runs N] [--plan MODE] [--stages TOP]")
      sys.exit(2)
    }
    // positionals first, then flag/value pairs — anything else
    // (a flag without its value, an unknown flag) is a usage error
    val (positional, flags) = args.span(!_.startsWith("--"))
    if (positional.isEmpty || positional.length > 2 ||
        flags.length % 2 != 0) usage()
    val opts = flags.grouped(2).map(kv => kv(0) -> kv(1)).toMap
    if (opts.size * 2 != flags.length ||
        !opts.keySet.subsetOf(Set("--runs", "--plan", "--stages")) ||
        opts.values.exists(_.startsWith("--"))) usage()
    def int(flag: String, default: Int): Int =
      opts.get(flag).fold(default)(_.toIntOption.getOrElse(usage()))
    val sfDir = positional.lift(1)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("no sfDir argument and SPARK_GRAFT_SF_DIR unset"))
    val runs = int("--runs", 3)
    val planMode = opts.get("--plan").map(ExplainMode.fromString)
    val stagesTop = int("--stages", 0)
    val prefixes = positional(0).split(',').toSeq
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        positional(0) == "all" || prefixes.exists(n.startsWith) }

    val spark = Sessions.local()
    val q = Verify.jsonString _
    def mb(bytes: Long): String = f"${bytes / 1e6}%.1f"
    // (summed task ms, JSON row) per completed stage of the recorded run
    val stages = ArrayBuffer.empty[(Long, String)]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (record) {
          val i = s.stageInfo
          val m = i.taskMetrics
          val wallMs = (for (a <- i.completionTime; b <- i.submissionTime)
            yield a - b).getOrElse(-1L)
          val site = (i.name.take(60) +: i.details.linesIterator
            .filter(_.contains("graft."))
            .filterNot(l => l.contains("graft.QueryProfile") ||
              l.contains("graft.Bench"))
            .take(3).toSeq).mkString(" | ").take(260)
          stages += m.executorRunTime ->
            (s"""{"stage":${i.stageId},"task_s":${m.executorRunTime / 1e3},""" +
              s""""wall_s":${wallMs / 1e3},"tasks":${i.numTasks},""" +
              s""""shuffle_read_mb":${mb(m.shuffleReadMetrics.totalBytesRead)},""" +
              s""""shuffle_write_mb":${mb(m.shuffleWriteMetrics.bytesWritten)},""" +
              s""""input_mb":${mb(m.inputMetrics.bytesRead)},"site":${q(site)}}""")
        }
    })

    def secs(t0: Long): String = f"${(System.nanoTime() - t0) / 1e9}%.3f"

    selected.foreach { case (name, fn) =>
      val line = try {
        graft.util.Caches.releaseAll()
        spark.catalog.clearCache()
        stages.clear()
        val timed = (1 to runs).map { i =>
          record = i == runs && stagesTop > 0
          val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val t0 = System.nanoTime()
          val rows = Bench.force(fn(spark, sfDir))
          val s = secs(t0)
          val compiles =
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          s"""{"s":$s,"rows":$rows,"janino_compiles":$compiles}"""
        }
        record = false
        PlanBridge.drainListeners(spark.sparkContext)
        if (runs == 0) fn(spark, sfDir).queryExecution.assertAnalyzed()

        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.assertAnalyzed()
        val analyzeS = secs(t0)
        val cm = spark.sharedState.cacheManager
        val session =
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        var nodes = 0
        var cached = 0
        df.queryExecution.analyzed.foreach { sub =>
          nodes += 1
          if (cm.lookupCachedData(session, sub).isDefined) cached += 1
        }
        val t1 = System.nanoTime()
        val physical = df.queryExecution.executedPlan.toString
        val planS = secs(t1)
        val joins = physical.linesIterator
          .map(_.trim.replaceAll("^[+:\\-\\s*]+", ""))
          .filter(l => l.contains("Join") || l.contains("Cartesian"))
          .map(l => q(l.takeWhile(_ != '[').take(90)))
        val exchanges =
          physical.linesIterator.count(_.contains("Exchange hashpartitioning"))
        val fallbacks = fallbackOperators(df.queryExecution.executedPlan)
          .map(q)
        val stageRows = stages.toSeq.sortBy(-_._1).take(stagesTop).map(_._2)
        Seq(
          Some(s""""query":${q(name)},"sf":${q(sfDir)}"""),
          Some(s""""analyze_s":$analyzeS,"tree_nodes":$nodes,""" +
            s""""cached_subtrees":$cached"""),
          Some(s""""plan_s":$planS,"hash_exchanges":$exchanges,""" +
            s""""joins":${joins.mkString("[", ",", "]")}"""),
          Some(s""""codegen_fallback":${fallbacks.mkString("[", ",", "]")}"""),
          timed.headOption.map(c => s""""cold":$c"""),
          Some(s""""warm":${timed.drop(1).mkString("[", ",", "]")}"""),
          Option.when(stagesTop > 0)(
            s""""stages":${stageRows.mkString("[", ",", "]")}"""),
          planMode.map(m =>
            s""""plan":${q(df.queryExecution.explainString(m))}""")
        ).flatten.mkString("{", ",", "}")
      } catch {
        case e: Throwable =>
          record = false
          s"""{"query":${q(name)},"error":${q(String.valueOf(e.getMessage))}}"""
      }
      println(line)
    }
    spark.stop()
  }

  /** The `CodegenFallback` expressions `op` holds, by name: any one
    * keeps `op` out of whole-stage codegen.
    */
  def codegenFallbacks(op: SparkPlan): Seq[String] =
    op.expressions.flatMap(_.collect { case e: CodegenFallback => e.prettyName })
      .distinct.sorted

  /** `Operator[expr,...]` for every operator of `plan`, adaptive stages
    * and subqueries included, that holds a `CodegenFallback` expression.
    */
  private def fallbackOperators(plan: SparkPlan): Seq[String] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p => p }
      .flatMap { p =>
        val names = codegenFallbacks(p)
        Option.when(names.nonEmpty)(s"${p.nodeName}[${names.mkString(",")}]")
      }
}
