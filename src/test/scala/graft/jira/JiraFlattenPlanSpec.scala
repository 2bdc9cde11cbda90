package graft.jira

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, HigherOrderFunction}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Flatten's operators must compile into whole-stage codegen on both
  * ingest paths, and its output type must not change: one
  * `CodegenFallback` expression (a `transform`/`filter` lambda) keeps
  * its operator out of codegen, and every task then builds a fresh
  * interpreted projection. The fan-out above it keeps one lambda.
  */
class JiraFlattenPlanSpec extends AnyFunSuite with SparkSpec {

  private val dir = JiraPipeline.FixtureDir

  /** The flattened schema, nullability included, as the composed
    * `transform`/`filter` form produced it.
    */
  private val FlattenedType: StructType = {
    def str(n: String, nullable: Boolean = false) = StructField(n, StringType, nullable)
    def strings(n: String, nullable: Boolean = false) =
      StructField(n, ArrayType(StringType, containsNull = true), nullable)
    StructType(
      Seq("issue_key", "issue_id", "project", "url", "title", "description",
        "status", "priority", "issue_type", "reporter", "assignee", "created",
        "updated", "resolved").map(str(_)) ++
      Seq(strings("labels", nullable = true), strings("components"),
        strings("versions"), strings("fix_versions"),
        StructField("comments", ArrayType(
          StructType(Seq(str("author"), str("created"), str("body"))),
          containsNull = false), nullable = false),
        StructField("comment_count", IntegerType, nullable = false)))
  }

  private def viaSource: DataFrame =
    JiraFlatten.flatten(spark.read.format("jira")
      .option("stubDir", s"$dir/stub_TEST").option("project", "TEST")
      .option("pageSize", 3).load(), "TEST")

  private def viaReadRaw(proj: String): DataFrame =
    JiraFlatten.flatten(
      JiraPipeline.readRaw(spark, s"$dir/raw_issues_$proj.jsonl"), proj)

  private def executed(df: DataFrame): SparkPlan = {
    assert(df.collect().nonEmpty)
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** The operators compiled inside a whole-stage codegen stage. */
  private def compiled(plan: SparkPlan): Seq[SparkPlan] = {
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    plan.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
  }

  /** `ops` hold no `CodegenFallback` expression and all sit in a
    * codegen stage of `plan`.
    */
  private def assertCompiled(plan: SparkPlan, ops: Seq[SparkPlan]): Unit = {
    assert(ops.nonEmpty, plan)
    val inStage = compiled(plan)
    ops.foreach { op =>
      val fallbacks = graft.QueryProfile.codegenFallbacks(op)
      assert(fallbacks.isEmpty, s"${op.nodeName} holds $fallbacks")
      assert(inStage.exists(_ eq op), s"${op.nodeName} is outside codegen:\n$plan")
    }
  }

  test("jira source: flatten's Filter and Project compile into one stage") {
    val plan = executed(viaSource)
    val ops = plan.collect { case p @ (_: FilterExec | _: ProjectExec) => p }
    assert(ops.length == 2, plan)
    assertCompiled(plan, ops)
    assert(plan.collect { case w: WholeStageCodegenExec => w }.length == 1, plan)
  }

  test("readRaw: flatten's Project compiles into its own stage") {
    for (proj <- Seq("TEST", "TEST2")) {
      val plan = executed(viaReadRaw(proj))
      // the root is flatten's projection; the drop filter and the
      // decode's Generate sit below it
      val root = plan match {
        case w: WholeStageCodegenExec => w.child
        case p => p
      }
      assert(root.isInstanceOf[ProjectExec], plan)
      assertCompiled(plan, Seq(root))
    }
  }

  test("readRaw: the decode's Generate and flatten's Filter and Project compile into one stage") {
    for (proj <- Seq("TEST", "TEST2")) {
      val plan = executed(viaReadRaw(proj))
      val ops = plan.collect {
        case p @ (_: GenerateExec | _: FilterExec | _: ProjectExec) => p
      }
      assert(ops.length == 3, plan)
      assertCompiled(plan, ops)
      assert(plan.collect { case w: WholeStageCodegenExec => w }.length == 1, plan)
    }
  }

  test("flatten's output type is unchanged on both paths") {
    assert(viaSource.schema == FlattenedType, viaSource.schema.treeString)
    for (proj <- Seq("TEST", "TEST2"))
      assert(viaReadRaw(proj).schema == FlattenedType,
        viaReadRaw(proj).schema.treeString)
  }

  test("the fan-out over flatten holds one lambda: the outer filter") {
    val plan = JiraGenerators.generate(viaReadRaw("TEST")).queryExecution.optimizedPlan
    val hofs = plan.flatMap(_.expressions.flatMap(_.collect {
      case h: HigherOrderFunction => h
    }))
    assert(hofs.map(_.getClass) == Seq(classOf[ArrayFilter]), plan)
  }
}
