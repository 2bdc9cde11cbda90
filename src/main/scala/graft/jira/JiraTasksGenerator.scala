package graft.jira

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.StructType

/** SQL-exposed fan-out (SURVEY §2.5 option c): a custom Catalyst
  * `Generator` wrapping the typed transform, so SQL users get the
  * reference's 1-issue → 0..7-examples semantics via LATERAL VIEW
  * (`GraftExtensions` injects `jira_tasks` into every session):
  *
  * {{{
  *   spark.sql("""
  *     SELECT t.task_type, t.output
  *     FROM issues
  *     LATERAL VIEW jira_tasks(struct(issue_key, ..., comment_count)) v AS t
  *   """)
  * }}}
  *
  * The input is a struct with IssueRecord's shape; each output row is
  * one TrainingExample struct. Parity with the column-expression form
  * is guaranteed by construction — both delegate to the same
  * executable spec (JiraGeneratorsTyped ≡ transformer.py:214-274),
  * and the differential test in JiraParitySpec pins the column form
  * to it.
  */
case class JiraTasksGenerator(child: Expression)
    extends UnaryExpression
    with Generator
    with CodegenFallback {

  @transient private lazy val issueEncoder =
    ExpressionEncoder[IssueRecord]()
  @transient private lazy val exampleEncoder =
    ExpressionEncoder[TrainingExample]()
  @transient private lazy val deserialize =
    issueEncoder.resolveAndBind().createDeserializer()
  @transient private lazy val serialize =
    exampleEncoder.createSerializer()

  override def elementSchema: StructType =
    StructType(Seq(org.apache.spark.sql.types.StructField(
      "task", exampleEncoder.schema)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case s: StructType if s.length == issueEncoder.schema.length =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"jira_tasks expects an IssueRecord struct " +
              s"(${issueEncoder.schema.length} fields), got $other"
          )
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val issue = deserialize(v.asInstanceOf[InternalRow])
      JiraGeneratorsTyped
        .transformIssue(issue)
        .map(ex => InternalRow(serialize(ex).copy()))
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "jira_tasks"
}
