package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The `name` of every `struct<name: string>` of an array, in order:
  * `coalesce(transform(arr, o -> coalesce(o.name, "")), [])` — a null
  * array gives `[]`, a null element or null `name` gives "". It reads
  * JIRA's components, versions and fixVersions.
  * Unlike `transform`, which is `CodegenFallback`, this is codegen'd
  * (the generated code calls [[NameList.compute]]). The result type
  * is the composed form's, `array<string>` with nullable elements.
  * FlattenKernelsSpec pins equality with the composed form.
  */
case class NameList(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(StructField("name", StringType, _, _))), _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"name_list expects array<struct<name:string>>, got $other")
    }

  override def eval(input: InternalRow): Any =
    NameList.compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          graft.functions.NameList.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral
    )
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "name_list"
}

object NameList {

  private val Empty = UTF8String.EMPTY_UTF8
  private val NoNames: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Called from generated code. */
  def compute(objs: ArrayData): ArrayData = {
    if (objs == null) return NoNames
    val n = objs.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (objs.isNullAt(i)) Empty
        else {
          val o = objs.getStruct(i, 1)
          if (o.isNullAt(0)) Empty else o.getUTF8String(0).copy()
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  def nameList(c: Column): Column =
    ColumnBridge.column(NameList(ColumnBridge.expression(c)))
}
