package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.util.TokenBuffer
import graft.jira.{JiraFlatten, JiraSchemas}
import java.io.IOException
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge, JsonBridge}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One Jackson pass per JIRA issue: the parsed issue together with the
  * key sets of the issue object and of its `fields` object.
  *
  * The walk tokenizes the issue once. It records the keys, copies the
  * members the schema reads into a Jackson `TokenBuffer`, and skips the
  * rest. Spark's own `JacksonParser` then converts the buffered tokens,
  * PERMISSIVE as `from_json` runs it ([[JsonBridge.tokenParser]]), so
  * every value equals `from_json`'s. The key sets are what makes an
  * absent key and an explicit JSON null tell apart after parsing
  * ([[JiraFlatten.ProbeFieldsKeys]] / [[JiraFlatten.ProbeTopKeys]]).
  *
  * As an expression over a JSON text it returns
  * `array<rawIssueSchemaWithProbes>` with one element for a text that
  * opens with an object and none otherwise; `JiraPipeline.readRaw`
  * emits it through `explode`, so no Filter can evaluate the decode a
  * second time. The `jira`
  * source calls [[JiraDecode.Decoder.issue]] on each issue object of a
  * page while its walk is on it.
  *
  * Key-set rules (JiraDecodeSpec pins them against the composed
  * `from_json` + `JsonKeyProbe` form it replaced):
  *  - no element for null, empty, malformed or non-object input,
  *    malformed anywhere inside the object; text after the object is
  *    never read;
  *  - `_fields_keys` comes from the `fields` member whose value
  *    `from_json` keeps: the last one that holds an object (its keys)
  *    or JSON null (no keys). A scalar, string or array member fails
  *    `from_json`'s struct conversion and keeps the earlier value, so it
  *    keeps the earlier keys too;
  *  - keys keep document order and duplicates.
  *
  * Syntax is what both of Spark's JSON parsers accept: single quotes,
  * no unescaped control characters (`from_json` rejects them) and no
  * NaN or Infinity (`json_object_keys` rejects them), so every object
  * the walk accepts `from_json` parses the same way. A line with a raw
  * control character inside a string is malformed.
  */
case class JiraDecode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = JiraDecode.Type

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"jira_decode expects a string, got $other")
    }

  @transient private lazy val decoder = new JiraDecode.Decoder()

  override def nullSafeEval(v: Any): Any =
    decoder.text(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode = {
    val cls = classOf[JiraDecode.Decoder].getName
    val d = ctx.addMutableState(cls, "jiraDecoder", v => s"$v = new $cls();")
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $d.text($s);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "jira_decode"
}

object JiraDecode {

  val Type: ArrayType =
    ArrayType(JiraSchemas.rawIssueSchemaWithProbes, containsNull = false)

  val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  private val Fields = "fields"
  private val NoIssue: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Decodes issues into rows of `out`: the raw issue columns it holds,
    * parsed, and the probe columns it holds. Not thread-safe: build one
    * per task. Call it where the task's SQL conf is set.
    */
  final class Decoder(out: StructType) {

    def this() = this(JiraSchemas.rawIssueSchemaWithProbes)

    private val parseSchema = StructType(out.fields.filterNot(f =>
      f.name == JiraFlatten.ProbeFieldsKeys || f.name == JiraFlatten.ProbeTopKeys))

    /** The `fields` members the schema reads: the REST `fields=`
      * parameter, column pruning pushed to the server.
      */
    val restFields: Seq[String] = parseSchema.find(_.name == Fields)
      .map(_.dataType).collect { case s: StructType => s.fieldNames.toSeq }
      .getOrElse(Nil)

    /** Members the schema reads, at the top and in `fields`. */
    private val topRead = parseSchema.fieldNames.toSet
    private val fieldsRead = restFields.toSet

    private val parse = JsonBridge.tokenParser(parseSchema)

    /** Source of each output column: a parsed column's index, or
      * -1 / -2 for the `fields` / top key set.
      */
    private val slots: Array[Int] = {
      var next = 0
      out.fields.map { f =>
        if (f.name == JiraFlatten.ProbeFieldsKeys) -1
        else if (f.name == JiraFlatten.ProbeTopKeys) -2
        else { next += 1; next - 1 }
      }
    }
    private val types = parseSchema.fields.map(_.dataType)

    /** The issue a JSON text opens with, as zero or one row. */
    def text(json: UTF8String): ArrayData = {
      val bytes = json.getByteBuffer
      val p = factory.createParser(new String(bytes.array,
        bytes.arrayOffset + bytes.position, bytes.remaining, StandardCharsets.UTF_8))
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) NoIssue
        else new GenericArrayData(Array[Any](issue(p)))
      } catch {
        case _: IOException => NoIssue
      } finally p.close()
    }

    /** The issue the parser's current START_OBJECT opens; leaves the
      * parser on its END_OBJECT. Throws what the parser throws on
      * malformed input.
      */
    def issue(p: JsonParser): InternalRow = {
      val buf = new TokenBuffer(p)
      val top = new java.util.ArrayList[AnyRef]()
      var fieldsKeys: java.util.ArrayList[AnyRef] = null
      buf.writeStartObject()
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        top.add(UTF8String.fromString(name))
        val t = p.nextToken()
        val read = topRead(name)
        if (read) buf.writeFieldName(name)
        if (name == Fields && t == JsonToken.START_OBJECT) {
          fieldsKeys = new java.util.ArrayList[AnyRef]()
          if (read) buf.writeStartObject()
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val member = p.currentName
            fieldsKeys.add(UTF8String.fromString(member))
            p.nextToken()
            if (read && fieldsRead(member)) {
              buf.writeFieldName(member)
              copy(p, buf)
            } else p.skipChildren()
          }
          if (read) buf.writeEndObject()
        } else {
          if (name == Fields && t == JsonToken.VALUE_NULL) fieldsKeys = null
          if (read) copy(p, buf) else p.skipChildren()
        }
      }
      buf.writeEndObject()
      val parsed = parse(buf)
      val vals = new Array[Any](slots.length)
      var i = 0
      while (i < slots.length) {
        vals(i) = slots(i) match {
          case -1 => if (fieldsKeys == null) null else new GenericArrayData(fieldsKeys.toArray)
          case -2 => new GenericArrayData(top.toArray)
          case j => parsed.get(j, types(j))
        }
        i += 1
      }
      new GenericInternalRow(vals)
    }

    /** Copies the parser's current value into `buf`, a float as the
      * double `from_json`'s text parser reads it (the buffer's own copy
      * keeps the digits, which Spark then prints as a decimal).
      */
    private def copy(p: JsonParser, buf: TokenBuffer): Unit =
      p.currentToken match {
        case JsonToken.START_OBJECT =>
          buf.writeStartObject()
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            buf.writeFieldName(p.currentName)
            p.nextToken()
            copy(p, buf)
          }
          buf.writeEndObject()
        case JsonToken.START_ARRAY =>
          buf.writeStartArray()
          while (p.nextToken() != JsonToken.END_ARRAY) copy(p, buf)
          buf.writeEndArray()
        case JsonToken.VALUE_NUMBER_FLOAT => buf.writeNumber(p.getDoubleValue)
        case _ => buf.copyCurrentEvent(p)
      }
  }

  def decode(c: Column): Column =
    ColumnBridge.column(JiraDecode(ColumnBridge.expression(c)))
}
