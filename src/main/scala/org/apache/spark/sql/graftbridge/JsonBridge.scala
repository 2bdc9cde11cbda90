package org.apache.spark.sql.graftbridge

import com.fasterxml.jackson.databind.util.TokenBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's JSON value conversion, so [[graft.functions.JiraDecode]]
  * converts an issue exactly as `from_json` does without a second
  * tokenization. Lives under org.apache.spark.sql.* beside the other
  * bridges to Spark internals.
  */
object JsonBridge {

  /** The conversion `from_json` applies to a JSON text, applied to the
    * tokens of one JSON object already copied into a `TokenBuffer`: Spark's
    * `JacksonParser` under a PERMISSIVE `FailureSafeParser` (a value of
    * the wrong type gives null or a partial row, never an exception),
    * with the options and session time zone the analyzer gives
    * `from_json`. Build it once per task, where the task's SQL conf is
    * set.
    */
  def tokenParser(schema: StructType): TokenBuffer => InternalRow = {
    val conf = SQLConf.get
    val options = new JSONOptions(Map.empty[String, String],
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val raw = new JacksonParser(schema, options, allowArrayAsStructs = false)
    val safe = new FailureSafeParser[TokenBuffer](
      buf => raw.parse[TokenBuffer](buf, (_, b) => b.asParser(), _ => null),
      PermissiveMode, schema, options.columnNameOfCorruptRecord)
    buf => safe.parse(buf).next()
  }
}
