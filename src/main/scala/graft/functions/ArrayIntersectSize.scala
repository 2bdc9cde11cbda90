package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd `size(array_intersect(a, b))` for string arrays — the
  * Jaccard verify kernel of the dedup family (q22/q159/q190 and the
  * other pair verifiers compute `|A ∩ B|` per candidate pair, twice
  * per Jaccard) and of the stopword and head/tail vocabulary counts;
  * operators call [[ArrayIntersectSize.intersectSize]].
  *
  * The built-in route materializes the intersection ARRAY (per-pair
  * allocation + copy of the matched shingles) only to take its
  * length; this expression counts matches in one pass over primitive
  * hash probes and allocates nothing but two per-row hash sets.
  *
  * Semantics are bit-identical to `size(array_intersect(a, b))`
  * under the default (non-legacy) size semantics
  * (ArrayIntersectSizeSpec pins them): distinct matched elements are
  * counted once (duplicates in `a` don't double-count), a null element
  * counts once iff null occurs in BOTH arrays, and a null input array
  * nulls the result. Other element types fail analysis.
  */
case class ArrayIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"array_intersect_size requires (array<string>, array<string>)" +
            s" inputs, got ${left.dataType.simpleString}," +
            s" ${right.dataType.simpleString}"
        )
    }

  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val set = new java.util.HashSet[UTF8String]()
    var bHasNull = false
    var i = 0
    val nb = ys.numElements()
    while (i < nb) {
      if (ys.isNullAt(i)) bHasNull = true
      else set.add(ys.getUTF8String(i))
      i += 1
    }
    val seen = new java.util.HashSet[UTF8String]()
    var nullCounted = false
    var c = 0
    var j = 0
    val na = xs.numElements()
    while (j < na) {
      if (xs.isNullAt(j)) {
        if (bHasNull && !nullCounted) { c += 1; nullCounted = true }
      } else {
        val u = xs.getUTF8String(j)
        if (set.contains(u) && seen.add(u)) c += 1
      }
      j += 1
    }
    c
  }

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val set = ctx.freshName("set")
        val seen = ctx.freshName("seen")
        val bNull = ctx.freshName("bNull")
        val aNullCnt = ctx.freshName("aNullCnt")
        val c = ctx.freshName("c")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val u = ctx.freshName("u")
        val utf = classOf[UTF8String].getName
        s"""
           |java.util.HashSet<$utf> $set = new java.util.HashSet<$utf>();
           |boolean $bNull = false;
           |for (int $i = 0; $i < $b.numElements(); $i++) {
           |  if ($b.isNullAt($i)) { $bNull = true; }
           |  else { $set.add($b.getUTF8String($i)); }
           |}
           |java.util.HashSet<$utf> $seen = new java.util.HashSet<$utf>();
           |boolean $aNullCnt = false;
           |int $c = 0;
           |for (int $j = 0; $j < $a.numElements(); $j++) {
           |  if ($a.isNullAt($j)) {
           |    if ($bNull && !$aNullCnt) { $c++; $aNullCnt = true; }
           |  } else {
           |    $utf $u = $a.getUTF8String($j);
           |    if ($set.contains($u) && $seen.add($u)) { $c++; }
           |  }
           |}
           |${ev.value} = $c;
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "array_intersect_size"
}

object ArrayIntersectSize {

  /** Column-level API: `|a ∩ b|` as an int, without materializing the
    * intersection array.
    */
  def intersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(
      ArrayIntersectSize(
        ColumnBridge.expression(a),
        ColumnBridge.expression(b)
      )
    )
}
