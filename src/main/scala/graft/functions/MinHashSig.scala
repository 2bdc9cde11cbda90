package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash signature over a shingle array — the codegen'd
  * production form of `Dedup.minhashSignature(sh, portable = false)`.
  *
  * Semantics are exactly `array((0 until k).map(i => array_min(
  * transform(sh, s => xxhash64(lit(i), s)))))`: per seed i the hash is
  * Spark's XxHash64 chain over (Int i, UTF8String s), i.e.
  * `XXH64.hashUnsafeBytes(s, XXH64.hashInt(i, 42L))` — the seed heads
  * are precomputed once. One traversal of the array computes all k
  * minima, where the higher-order form runs k interpreted
  * transform+array_min passes (HOF lambdas break whole-stage codegen).
  * MinHashSigSpec proves the two bit-identical.
  *
  * A null shingle folds the seed head itself into the minimum —
  * exactly what the HOF form computes, since Spark's xxhash64 skips
  * null inputs and returns its seed unchanged (`heads(j)`). The
  * engine's shingle producers never emit nulls, but the SQL-exposed
  * `minhash_sig(array('a', NULL), k)` is reachable by users and must
  * not NPE. Empty array → empty-signature guard upstream
  * (`size(sh) > 0` filters precede signatures).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    MinHashSig.compute(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      a =>
        s"${ev.value} = graft.functions.MinHashSig.compute($a, $numHashes);"
    )

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {

  /** Seed heads XXH64.hashInt(i, 42L), lazily cached per k. */
  private val seedCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private def seeds(k: Int): Array[Long] =
    seedCache.computeIfAbsent(k, k2 => Array.tabulate(k2)(i => XXH64.hashInt(i, 42L)))

  /** Shared with [[MinHashText]] — one seed-head convention. */
  private[functions] def seedsFor(k: Int): Array[Long] = seeds(k)

  /** One pass over the shingles, all k minima at once. Called from
    * generated code — must stay a simple static-shaped method.
    */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val heads = seeds(k)
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        // xxhash64(seed_i, NULL) = heads(i) in the HOF formulation
        var j = 0
        while (j < k) {
          if (heads(j) < mins(j)) mins(j) = heads(j)
          j += 1
        }
      } else {
        val s = arr.getUTF8String(i)
        var j = 0
        while (j < k) {
          val h = XXH64.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes(), heads(j))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def minhashSig(sh: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(sh), numHashes))
}
