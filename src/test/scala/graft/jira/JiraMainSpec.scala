package graft.jira

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectSet, Complete, Final}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** EP1's corpus build on the fixture projects, checked for what it
  * writes and for what it costs: one pass over each raw file, one
  * stats aggregate, counts taken from the writes, nothing left cached.
  */
class JiraMainSpec extends AnyFunSuite with SparkSpec {

  private val projects = JiraPipeline.fixtureProjects
  private val exampleShape =
    Seq("task_type", "instruction", "input", "output", "metadata")

  private case class Build(
      r: JiraMain.Result,
      actions: Seq[(String, SparkPlan)],
      jobs: Int,
      pinnedBefore: Set[Int],
      pinnedAfter: Set[Int]
  )

  /** One `JiraMain.run`, with every SQL action and Spark job it ran. */
  private lazy val build: Build = {
    val out = Files.createTempDirectory("jira_main").toString
    val sc = spark.sparkContext
    val actions = mutable.Buffer.empty[(String, SparkPlan)]
    var jobs = 0
    val queries = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.synchronized { actions += f -> qe.executedPlan }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        actions.synchronized { jobs += 1 }
    }
    PlanBridge.drainListeners(sc)
    val pinnedBefore = sc.getPersistentRDDs.keySet.toSet
    spark.listenerManager.register(queries)
    sc.addSparkListener(jobCounter)
    val r =
      try JiraMain.run(spark, projects, out)
      finally {
        PlanBridge.drainListeners(sc)
        spark.listenerManager.unregister(queries)
        sc.removeSparkListener(jobCounter)
      }
    Build(r, actions.toSeq, jobs, pinnedBefore,
      sc.getPersistentRDDs.keySet.toSet)
  }

  /** How often `plans` evaluate the nodes `hit` selects, as (outside
    * any cache, inside caches): every action evaluates the former, and
    * a cache's own are evaluated once, by the action that fills it.
    */
  private def evaluations(plans: Seq[SparkPlan])(
      hit: SparkPlan => Boolean): (Int, Int) = {
    val caches = mutable.Map.empty[AnyRef, Int]
    def walk(p: SparkPlan): Int = p match {
      case m: InMemoryTableScanExec =>
        val c = m.relation.cacheBuilder
        if (!caches.contains(c)) caches(c) = walk(c.cachedPlan)
        0
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case _ => (if (hit(p)) 1 else 0) + (p.children ++ p.subqueries).map(walk).sum
    }
    (plans.map(walk).sum, caches.values.sum)
  }

  private val rawScan: SparkPlan => Boolean = _.isInstanceOf[FileSourceScanExec]

  /** `JiraStats.perProject`'s distinct-value aggregate, final phase. */
  private val statsAggregate: SparkPlan => Boolean = {
    case a: BaseAggregateExec => a.aggregateExpressions.exists(e =>
      (e.mode == Final || e.mode == Complete) &&
        e.aggregateFunction.isInstanceOf[CollectSet])
    case _ => false
  }

  /** The lines of a single-file JSON output directory, in part order. */
  private def lines(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .flatMap(f => Files.readAllLines(f).asScala)

  test("JiraMain leaves no RDD persisted") {
    val b = build
    assert(b.pinnedAfter == b.pinnedBefore,
      s"left pinned: ${b.pinnedAfter -- b.pinnedBefore}")
  }

  test("JiraMain reads each raw file once and aggregates the stats once") {
    val b = build
    val plans = b.actions.map(_._2)
    info(s"${b.actions.size} SQL actions " +
      s"(${b.actions.map(_._1).mkString(", ")}), ${b.jobs} Spark jobs")
    assert(b.actions.size <= projects.size + 4)
    assert(!b.actions.exists(_._1 == "count"))
    assert(evaluations(plans)(rawScan) == (0, projects.size),
      "(raw scans outside the caches, raw scans filling a cache)")
    val (statsOutside, statsCached) = evaluations(plans)(statsAggregate)
    assert(statsOutside + statsCached == 1, "JiraStats.perProject evaluations")
  }

  test("JiraMain's merged corpus is the ordered corpus, line for line") {
    val out = build.r.outDir
    val expected = JiraPipeline.orderedCorpus(spark, projects)
      .select(exampleShape.map(col): _*).toJSON.collect().toSeq
    assert(lines(s"$out/merged_corpus.jsonl") == expected)
  }

  test("JiraMain's counts are its files' line counts and the stats totals") {
    val r = build.r
    val merged = lines(s"${r.outDir}/merged_corpus.jsonl").size.toLong
    assert(r.mergedCount == merged)
    val perFile = projects.map { case (p, _) =>
      p -> lines(s"${r.outDir}/${p}_examples.jsonl").size.toLong }.toMap
    assert(r.perProjectCounts == perFile)
    val stats = r.combined.getAs[collection.Seq[Row]]("per_project_stats")
    assert(stats.map(s => s.getAs[String]("project") ->
      s.getAs[Long]("total_examples")).toMap == perFile)
    assert(r.combined.getAs[Long]("total_examples") == merged)
  }

  test("JiraMain's raw_issues_count is the flattened issue count") {
    val stats = build.r.combined.getAs[collection.Seq[Row]]("per_project_stats")
    val got = stats.map(s => s.getAs[String]("project") ->
      s.getAs[Long]("raw_issues_count")).toMap
    val want = projects.map { case (p, path) =>
      p -> JiraFlatten.flatten(JiraPipeline.readRaw(spark, path), p).count()
    }.toMap
    assert(got == want)
  }

  test("per_project_stats.json holds the stats rows in project order") {
    val stats = JiraStats.perProject(JiraPipeline.corpus(spark, projects))
    // to_json, not toJSON: toJSON does not keep a map's key order
    val want = stats.orderBy(col("project"))
      .select(to_json(struct(stats.columns.map(col): _*))).as[String](
        org.apache.spark.sql.Encoders.STRING).collect().toSeq
    assert(lines(s"${build.r.outDir}/per_project_stats.json") == want)
  }
}
