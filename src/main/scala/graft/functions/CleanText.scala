package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's `clean_text` (utils.py:84-105) as one fused pass:
  * `" ".join(text.split())`, null → "", and — when `maxLen >= 0` and
  * the cleaned text has more than `maxLen` code points — the first
  * `maxLen` code points + "...".
  *
  * Whitespace is Python's `str.split()` set ([[CleanText.PythonWhitespace]]),
  * not a regex class. The input is decoded to a `String` once and
  * scanned once, so malformed UTF-8 decodes to U+FFFD exactly as
  * Spark's string functions do.
  * CleanTextSpec pins equality with the composed
  * `regexp_replace`/`trim`/`substring` form this replaced.
  */
case class CleanText(child: Expression, maxLen: Int) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"clean_text expects a string, got $other")
    }

  override def eval(input: InternalRow): Any =
    CleanText.compute(child.eval(input).asInstanceOf[UTF8String], maxLen)

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        UTF8String ${ev.value} = graft.functions.CleanText.compute(
          ${c.isNull} ? null : ${c.value}, $maxLen);""",
      isNull = FalseLiteral
    )
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "clean_text"
}

object CleanText {

  /** Every code point Python 3's `str.split()` splits on (`str.isspace`):
    * Java's `(?U)\s` (Unicode White_Space) plus the information
    * separators U+001C–U+001F, which `(?U)\s` lacks. All are BMP
    * non-surrogates, so a per-`char` test is exact.
    */
  val PythonWhitespace: Seq[Int] =
    (0x09 to 0x0d) ++ (0x1c to 0x20) ++ Seq(0x85, 0xa0, 0x1680) ++
      (0x2000 to 0x200a) ++ Seq(0x2028, 0x2029, 0x202f, 0x205f, 0x3000)

  private val isWs: Array[Boolean] = {
    val t = new Array[Boolean](PythonWhitespace.max + 1)
    PythonWhitespace.foreach(t(_) = true)
    t
  }

  private val Empty = UTF8String.EMPTY_UTF8

  /** Called from generated code; `maxLen < 0` means no truncation. */
  def compute(text: UTF8String, maxLen: Int): UTF8String = {
    if (text == null) return Empty
    val s = text.toString
    val sb = new java.lang.StringBuilder(s.length)
    var pending = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < isWs.length && isWs(c)) pending = sb.length > 0
      else {
        if (pending) { sb.append(' '); pending = false }
        sb.append(c)
      }
      i += 1
    }
    if (maxLen >= 0 && sb.codePointCount(0, sb.length) > maxLen)
      UTF8String.fromString(sb.substring(0, sb.offsetByCodePoints(0, maxLen)) + "...")
    else UTF8String.fromString(sb.toString)
  }

  def cleanText(c: Column, maxLen: Int): Column =
    ColumnBridge.column(CleanText(ColumnBridge.expression(c), maxLen))
}
