package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import java.io.IOException
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.CreateJacksonParser
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Key sets of a JSON object line and of its `fields` member, from one
  * streaming Jackson pass that skips every value it does not need: the
  * probe half of the composed form `JiraPipeline.readRaw` ran before
  * [[JiraDecode]]. JiraDecodeSpec keeps `from_json` plus this probe as
  * the kernel's reference.
  *
  * Returns `struct<fields_keys: array<string>, top_keys: array<string>>`
  * equal to the composed pair
  * `json_object_keys(get_json_object(v, "$.fields"))` /
  * `json_object_keys(v)`. Their quirks carry over (JsonKeyProbeSpec
  * pins them):
  *  - both are null for null, empty, malformed or non-object input —
  *    malformed anywhere inside the top-level object; text after it
  *    is never read;
  *  - `fields_keys` comes from the first `fields` member whose value
  *    is not JSON null; it is null for a scalar or array, and for a
  *    string it is the key set of the JSON text the string holds
  *    (`JiraDecode` reads the member `from_json` keeps instead);
  *  - keys keep document order and duplicates.
  *
  * The parser factory has the features of Spark's JSON expressions
  * (unescaped control characters, single quotes).
  */
case class JsonKeyProbe(child: Expression) extends UnaryExpression {

  override def dataType: DataType = JsonKeyProbe.Type

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"json_key_probe expects a string, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    JsonKeyProbe.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      s => s"${ev.value} = graft.functions.JsonKeyProbe.compute($s);"
    )

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "json_key_probe"
}

object JsonKeyProbe {

  val FieldsKeys = "fields_keys"
  val TopKeys = "top_keys"

  /** Same element type as `json_object_keys`. */
  val Type: StructType = StructType(Seq(
    StructField(FieldsKeys, ArrayType(StringType)),
    StructField(TopKeys, ArrayType(StringType))
  ))

  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  private val Field = "fields"

  /** Spark's own reader path, so malformed UTF-8 decodes exactly as
    * in `get_json_object` / `json_object_keys`.
    */
  private def parser(json: UTF8String): JsonParser =
    CreateJacksonParser.utf8String(factory, json)

  /** Keys of the object the parser's current START_OBJECT opens; leaves
    * the parser on its END_OBJECT.
    */
  private def keys(p: JsonParser): GenericArrayData = {
    val out = new java.util.ArrayList[AnyRef]()
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      out.add(UTF8String.fromString(p.currentName))
      p.nextToken()
      p.skipChildren()
    }
    new GenericArrayData(out.toArray)
  }

  /** `json_object_keys` of a text. */
  private def objectKeys(json: UTF8String): GenericArrayData = {
    val p = parser(json)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) null else keys(p)
    } catch {
      case _: JsonProcessingException | _: IOException => null
    } finally p.close()
  }

  /** Called from generated code. */
  def compute(json: UTF8String): InternalRow = {
    val p = parser(json)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) new GenericInternalRow(2)
      else probe(p)
    } catch {
      case _: JsonProcessingException | _: IOException =>
        new GenericInternalRow(2)
    } finally p.close()
  }

  /** The probe row of the object the parser's current START_OBJECT
    * opens; leaves the parser on its END_OBJECT. Throws what the
    * parser throws on malformed input.
    */
  private def probe(p: JsonParser): InternalRow = {
    val top = new java.util.ArrayList[AnyRef]()
    var fieldsKeys: GenericArrayData = null
    var matched = false
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val name = p.currentName
      top.add(UTF8String.fromString(name))
      val t = p.nextToken()
      if (!matched && t != JsonToken.VALUE_NULL && name == Field) {
        matched = true
        t match {
          case JsonToken.START_OBJECT => fieldsKeys = keys(p)
          case JsonToken.VALUE_STRING =>
            fieldsKeys = objectKeys(UTF8String.fromString(p.getText))
          case _ => p.skipChildren()
        }
      } else p.skipChildren()
    }
    new GenericInternalRow(Array[Any](fieldsKeys, new GenericArrayData(top.toArray)))
  }

  def keyProbe(c: Column): Column =
    ColumnBridge.column(JsonKeyProbe(ColumnBridge.expression(c)))
}
