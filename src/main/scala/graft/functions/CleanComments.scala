package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The JIRA flatten's comment step as one pass over a raw
  * `array<struct<author: struct<displayName, name>, created, body>>`
  * (SURVEY §2.3 P4):
  * {{{
  *   filter(transform(coalesce(comments, []), c -> struct(
  *       author  = if c.author is null then "Unknown"
  *                 else coalesce(c.author.displayName, c.author.name, "Unknown"),
  *       created = coalesce(c.created, ""),
  *       body    = cleanText(c.body, maxLen))),
  *     c -> length(c.body) > 0)
  * }}}
  * A null element has an empty cleaned body, so it is dropped as in
  * that composed form. `transform`/`filter` are `CodegenFallback`, which
  * keeps their whole operator out of whole-stage codegen; this kernel
  * is codegen'd (the generated code calls [[CleanComments.compute]]).
  * FlattenKernelsSpec pins equality with the composed form.
  */
case class CleanComments(child: Expression, maxLen: Int) extends UnaryExpression {

  override def dataType: DataType = CleanComments.Type

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(CleanComments.Comment(), _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"clean_comments expects array<struct<author:struct<displayName:string," +
          s"name:string>,created:string,body:string>>, got $other")
    }

  override def eval(input: InternalRow): Any =
    CleanComments.compute(child.eval(input).asInstanceOf[ArrayData], maxLen)

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          graft.functions.CleanComments.compute(${c.isNull} ? null : ${c.value}, $maxLen);""",
      isNull = FalseLiteral
    )
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "clean_comments"
}

object CleanComments {

  /** The cleaned comment: every field non-null. */
  val Type: DataType = ArrayType(
    StructType(Seq("author", "created", "body")
      .map(StructField(_, StringType, nullable = false))),
    containsNull = false)

  /** Matches the raw comment struct, any nullability. */
  private object Comment {
    def unapply(t: DataType): Boolean = t match {
      case StructType(Array(
            StructField("author", StructType(Array(
              StructField("displayName", StringType, _, _),
              StructField("name", StringType, _, _))), _, _),
            StructField("created", StringType, _, _),
            StructField("body", StringType, _, _))) => true
      case _ => false
    }
  }

  private val Unknown = UTF8String.fromString("Unknown")
  private val Empty = UTF8String.EMPTY_UTF8
  private val NoComments: ArrayData = new GenericArrayData(Array.empty[Any])

  private def author(c: InternalRow): UTF8String =
    if (c.isNullAt(0)) Unknown
    else {
      val a = c.getStruct(0, 2)
      if (!a.isNullAt(0)) a.getUTF8String(0).copy()
      else if (!a.isNullAt(1)) a.getUTF8String(1).copy()
      else Unknown
    }

  /** Called from generated code. */
  def compute(comments: ArrayData, maxLen: Int): ArrayData = {
    if (comments == null) return NoComments
    val n = comments.numElements()
    val out = new Array[Any](n)
    var kept = 0
    var i = 0
    while (i < n) {
      if (!comments.isNullAt(i)) {
        val c = comments.getStruct(i, 3)
        val body = CleanText.compute(c.getUTF8String(2), maxLen)
        if (body.numBytes > 0) {
          val created = if (c.isNullAt(1)) Empty else c.getUTF8String(1).copy()
          out(kept) = new GenericInternalRow(Array[Any](author(c), created, body))
          kept += 1
        }
      }
      i += 1
    }
    new GenericArrayData(if (kept == n) out else out.take(kept))
  }

  def cleanComments(c: Column, maxLen: Int): Column =
    ColumnBridge.column(CleanComments(ColumnBridge.expression(c), maxLen))
}
