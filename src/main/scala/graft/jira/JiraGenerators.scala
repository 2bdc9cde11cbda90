package graft.jira

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Explode, Expression, Generator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The fan-out stage: 1 flattened issue → 0..7 training examples
  * (transformer.py:214-274; SURVEY §2.5 G1-G6).
  *
  * One encoding: [[examples]] builds the filtered array of example
  * structs from a field accessor. [[generate]] reads a DataFrame's
  * columns with it and posexplodes the array — pure Catalyst, no
  * shuffle; the per-issue emission order (summarization,
  * classification, status_prediction, QA1, QA2, QA3, resolution) is
  * carried as `task_rank` for deterministic ordered writes (SURVEY
  * §2.10). [[tasks]], the `jira_tasks` SQL generator, reads the fields
  * of its struct argument by name and explodes the same array.
  *
  * [[JiraGeneratorsTyped]] encodes the same semantics imperatively: the
  * independent reference the differential tests compare against.
  */
object JiraGenerators {

  private val QaInstruction =
    "Answer the following question about this software issue:"

  /** The examples of the issue whose field `name` is `f(name)`, non-null
    * and in emission order.
    */
  def examples(f: String => Column): Column = {
    // metadata struct: 9 base fields ∪ question_type (base values win
    // on collision — transformer.py:243-268; the per-task extras that
    // survive are only question_type)
    def example(
        taskType: String,
        instruction: String,
        input: Column,
        output: Column,
        questionType: Column = lit(null).cast("string")
    ): Column =
      struct(
        lit(taskType).as("task_type"),
        lit(instruction).as("instruction"),
        input.as("input"),
        output.as("output"),
        struct(
          Seq("issue_key", "project", "issue_type", "priority", "status",
            "created", "url", "labels", "components").map(n => f(n).as(n)) :+
            questionType.as("question_type"): _*
        ).as("metadata")
      )

    val desc = f("description")
    val hasDesc = desc =!= ""
    val comments = f("comments")
    val hasComments = size(comments) > 0
    val descriptionLine =
      when(hasDesc, concat(lit("Description: "), substring(desc, 1, 500)))
        .otherwise(lit(""))
    def qa(output: Column, questionType: String, question: Column*): Column =
      example(
        "question_answering",
        QaInstruction,
        concat(Seq(lit("Issue Key: "), f("issue_key"), lit("\nTitle: "),
          f("title")) ++ question: _*),
        output,
        lit(questionType)
      )

    // G1 — summarization (transformer.py:32-64): description ⊕ first 3
    // comments joined by blank lines; output templates title/status/
    // priority
    val parts = when(hasDesc, concat(lit("Description: "), desc)) +:
      (1 to 3).map(i => when(size(comments) >= i,
        concat(lit(s"Comment $i: "), comments(i - 1).getField("body"))))
    val summarization = when(
      hasDesc || hasComments,
      example(
        "summarization",
        "Summarize the following software issue and its discussion:",
        concat_ws("\n\n", parts: _*), // skips the absent (NULL) parts
        concat(f("title"), lit(" (Status: "), f("status"),
          lit(", Priority: "), f("priority"), lit(")"))
      )
    )

    // G2 — priority classification (transformer.py:66-91): title +
    // first 500 description chars (raw slice, no ellipsis)
    val classification = when(
      f("title") =!= "" && f("priority") =!= "",
      example(
        "classification",
        "Classify the priority of this software issue (Blocker, Critical, Major, Minor, Trivial):",
        concat(lit("Title: "), f("title"), lit("\n"), descriptionLine),
        f("priority")
      )
    )

    // G3 — status prediction (transformer.py:93-120)
    val statusPrediction = when(
      f("title") =!= "" && f("status") =!= "",
      example(
        "status_prediction",
        "Predict the current status of this software issue:",
        concat(
          lit("Issue: "), f("title"), lit("\n"),
          lit("Type: "), f("issue_type"), lit("\n"),
          lit("Priority: "), f("priority"), lit("\n"),
          descriptionLine
        ),
        f("status")
      )
    )

    // G4 — QA fan-out (transformer.py:122-177): Q1 always, Q2 always,
    // Q3 only when the assignee is known
    val qa1 = qa(f("title"), "summary", lit("\nDescription: "), desc,
      lit("\n\nQuestion: What is this issue about?"))
    val qa2 = qa(f("status"), "status",
      lit("\n\nQuestion: What is the current status of this issue?"))
    val qa3 = when(
      f("assignee") =!= "" && f("assignee") =!= "Unknown",
      qa(f("assignee"), "assignee",
        lit("\n\nQuestion: Who is assigned to this issue?"))
    )

    // G5 — issue resolution (transformer.py:179-212): last 2 comment
    // bodies joined "\n", first 500 chars, only for Resolved/Closed
    // issues with comments
    val resolution = when(
      hasComments && f("status").isin("Resolved", "Closed"),
      example(
        "issue_resolution",
        "Based on the issue discussion, explain how this issue was resolved:",
        concat(
          lit("Issue: "), f("title"), lit("\n"),
          when(hasDesc,
            concat(lit("Description: "), substring(desc, 1, 500), lit("\n")))
            .otherwise(lit("")),
          lit("\nHow was this issue resolved?")
        ),
        substring(
          array_join(
            // last min(2, size) bodies: slice(c, -2, 2) is empty for a
            // one-element array, Python's comments[-2:] is not; the
            // size > 0 guard above keeps slice's start non-zero
            slice(comments.getField("body"),
              greatest(-size(comments), lit(-2)), lit(2)),
            "\n"
          ),
          1,
          500
        )
      )
    )

    filter(
      array(summarization, classification, statusPrediction, qa1, qa2, qa3,
        resolution),
      e => e.isNotNull
    )
  }

  /** Fan a flattened-issue DataFrame out into training examples.
    * Output columns: issue_key, task_rank (within-issue emission
    * order), task_type, instruction, input, output, metadata.
    */
  def generate(issues: DataFrame): DataFrame =
    issues
      .select(
        col("issue_key"),
        col("created"),
        posexplode(examples(col)).as(Seq("task_rank", "ex"))
      )
      .select(
        col("issue_key"),
        col("created"),
        col("task_rank"),
        col("ex.task_type").as("task_type"),
        col("ex.instruction").as("instruction"),
        col("ex.input").as("input"),
        col("ex.output").as("output"),
        col("ex.metadata").as("metadata")
      )

  /** `jira_tasks(issue)`, the SQL form of [[generate]] that
    * [[graft.GraftExtensions]] injects: one `col` row per example of the
    * issue struct, whose fields bind by name (extra fields are
    * ignored; a missing one fails analysis). A NULL struct yields no
    * rows.
    * {{{
    *   SELECT t.task_type, t.output FROM issues
    *   LATERAL VIEW jira_tasks(struct(issue_key, ..., comment_count)) v AS t
    * }}}
    */
  def tasks(issue: Expression): Generator = {
    val c = ColumnBridge.column(issue)
    Explode(ColumnBridge.expression(when(c.isNotNull, examples(c.getField))))
  }
}

/** Typed twin of [[JiraGenerators]]: same semantics as a pure Scala
  * function over case classes, used for differential testing (and as
  * the executable spec of transformer.py:214-274).
  */
object JiraGeneratorsTyped {

  /** The first 500 code points of `s`, as Python's `s[:500]` and
    * Spark's `substring` count them (`String.take` counts UTF-16 units
    * and can split a surrogate pair).
    */
  private def take500(s: String): String =
    if (s.codePointCount(0, s.length) <= 500) s
    else s.substring(0, s.offsetByCodePoints(0, 500))

  def transformIssue(issue: IssueRecord): Seq[TrainingExample] = {
    val meta = ExampleMetadata(
      issue.issue_key,
      issue.project,
      issue.issue_type,
      issue.priority,
      issue.status,
      issue.created,
      issue.url,
      issue.labels,
      issue.components,
      None
    )
    val out = Seq.newBuilder[TrainingExample]

    if (issue.description.nonEmpty || issue.comments.nonEmpty) {
      val parts =
        (if (issue.description.nonEmpty)
           Seq(s"Description: ${issue.description}")
         else Seq.empty) ++
          issue.comments.take(3).zipWithIndex.map { case (c, i) =>
            s"Comment ${i + 1}: ${c.body}"
          }
      out += TrainingExample(
        "summarization",
        "Summarize the following software issue and its discussion:",
        parts.mkString("\n\n"),
        s"${issue.title} (Status: ${issue.status}, Priority: ${issue.priority})",
        meta
      )
    }

    if (issue.title.nonEmpty && issue.priority.nonEmpty) {
      val input = s"Title: ${issue.title}\n" +
        (if (issue.description.nonEmpty)
           s"Description: ${take500(issue.description)}"
         else "")
      out += TrainingExample(
        "classification",
        "Classify the priority of this software issue (Blocker, Critical, Major, Minor, Trivial):",
        input,
        issue.priority,
        meta
      )
    }

    if (issue.title.nonEmpty && issue.status.nonEmpty) {
      val input = s"Issue: ${issue.title}\nType: ${issue.issue_type}\n" +
        s"Priority: ${issue.priority}\n" +
        (if (issue.description.nonEmpty)
           s"Description: ${take500(issue.description)}"
         else "")
      out += TrainingExample(
        "status_prediction",
        "Predict the current status of this software issue:",
        input,
        issue.status,
        meta
      )
    }

    val qaInstr = "Answer the following question about this software issue:"
    out += TrainingExample(
      "question_answering",
      qaInstr,
      s"Issue Key: ${issue.issue_key}\nTitle: ${issue.title}\n" +
        s"Description: ${issue.description}\n\nQuestion: What is this issue about?",
      issue.title,
      meta.copy(question_type = Some("summary"))
    )
    out += TrainingExample(
      "question_answering",
      qaInstr,
      s"Issue Key: ${issue.issue_key}\nTitle: ${issue.title}\n\n" +
        "Question: What is the current status of this issue?",
      issue.status,
      meta.copy(question_type = Some("status"))
    )
    if (issue.assignee.nonEmpty && issue.assignee != "Unknown") {
      out += TrainingExample(
        "question_answering",
        qaInstr,
        s"Issue Key: ${issue.issue_key}\nTitle: ${issue.title}\n\n" +
          "Question: Who is assigned to this issue?",
        issue.assignee,
        meta.copy(question_type = Some("assignee"))
      )
    }

    if (issue.comments.nonEmpty &&
      Seq("Resolved", "Closed").contains(issue.status)) {
      val resolutionContext =
        issue.comments.takeRight(2).map(_.body).mkString("\n")
      val input = s"Issue: ${issue.title}\n" +
        (if (issue.description.nonEmpty)
           s"Description: ${take500(issue.description)}\n"
         else "") +
        "\nHow was this issue resolved?"
      out += TrainingExample(
        "issue_resolution",
        "Based on the issue discussion, explain how this issue was resolved:",
        input,
        take500(resolutionContext),
        meta
      )
    }

    out.result()
  }

  def generate(issues: Dataset[IssueRecord]): Dataset[TrainingExample] = {
    import issues.sparkSession.implicits._
    issues.flatMap(transformIssue)
  }
}
