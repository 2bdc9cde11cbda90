package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's shared 60-bit content hash, codegen'd: the value of
  * `conv(substring(md5(s), 1, 15), 16, 10)::long` computed directly
  * from the digest bytes — the first 15 hex chars of an md5 are the
  * first 60 bits, i.e. big-endian first 8 bytes shifted right by a
  * nibble. The composed form materializes a 32-char hex string and
  * re-parses it per row; this one does a single digest and two loads.
  *
  * Used by the train/test split (q49), stratified sampling (q71),
  * the KMV sketch input (q58), the pipeline split bucket, the seeded
  * MinHash/Bloom hashes of the dedup family and the document
  * fingerprint — the DuckDB oracle mirrors the same value as
  * `('0x' || substr(md5(s), 1, 15))::BIGINT`. Callers write
  * [[Md5Prefix60.md5Prefix60]]; Md5Prefix60Spec pins bit-equality
  * with the composed Catalyst form (`TextFunctions.hash60Composed`).
  */
case class Md5Prefix60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"hash60 expects a string, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    Md5Prefix60.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      s => s"${ev.value} = graft.functions.Md5Prefix60.compute($s);"
    )

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "hash60"
}

object Md5Prefix60 {

  private val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Called from generated code. */
  def compute(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // first 15 hex chars = top 60 bits = big-endian first 8 bytes >>> 4
    var u = 0L
    var i = 0
    while (i < 8) { u = (u << 8) | (d(i) & 0xffL); i += 1 }
    u >>> 4
  }

  def md5Prefix60(c: Column): Column =
    ColumnBridge.column(Md5Prefix60(ColumnBridge.expression(c)))
}
