package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JsonToStructs}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Bridge to the expression behind `from_json`, so the Jira DSv2
  * source decodes an issue's JSON text with the very parse
  * [[graft.jira.JiraPipeline.readRaw]] runs on a JSONL line. Lives
  * under org.apache.spark.sql.* for package-private access.
  */
object JsonBridge {

  /** `from_json(text, schema)` as a function, built once per
    * partition reader: PERMISSIVE (malformed input gives a row of
    * nulls, never an exception), with the session time zone the
    * analyzer gives `from_json`. Call it where the task's SQL conf is
    * set.
    */
  def fromJson(schema: StructType): UTF8String => InternalRow = {
    val expr = JsonToStructs(schema, Map.empty[String, String],
      BoundReference(0, StringType, nullable = true),
      Some(SQLConf.get.sessionLocalTimeZone))
    val input = new GenericInternalRow(1)
    json => {
      input.update(0, json)
      expr.eval(input).asInstanceOf[InternalRow]
    }
  }
}
