package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd dot product over two float-array columns.
  *
  * The built-in higher-order route (`zip_with` + `aggregate`) is
  * interpreted per element — it breaks whole-stage codegen and costs
  * ~10× on the similarity-search scans. This expression generates a
  * tight primitive loop instead, while keeping the exact semantics the
  * DuckDB oracle mirrors: each element widened float→double, products
  * accumulated left-to-right in a double.
  *
  * Nulls: null array → null result; a length mismatch or a null
  * element also nulls the result — exactly the
  * `aggregate(zip_with(...))` fold semantics of
  * `Similarity.dotProductHof`, which VectorMathSpec compares it with.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires array<float> inputs, got " +
            s"${left.dataType.simpleString}, ${right.dataType.simpleString}"
        )
    }
  }

  // Null semantics mirror the aggregate(zip_with(...)) fold exactly:
  // length mismatch → null via zip_with padding; null element → null.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = $a.numElements();
           |if ($b.numElements() != $n) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |      ${ev.isNull} = true;
           |      break;
           |    }
           |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
           |  }
           |  if (!${ev.isNull}) {
           |    ${ev.value} = $acc;
           |  }
           |}
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Codegen'd squared L2 distance between a float-array column (the
  * corpus) and a double-array column (centroids / query points):
  * Σ (x_i − c_i)², accumulated left-to-right in doubles — exactly the
  * `aggregate(zip_with(...))` higher-order semantics (and the DuckDB
  * `list_sum(list_transform(list_zip(...)))` oracle), but compiled to
  * a primitive loop instead of per-element interpretation. The k-means
  * assignment scan (k distance evaluations per row per round) is the
  * hot path this exists for. Operators call [[VectorMath.vecSqDist]];
  * the fold itself (`Clustering.sqDistHof`) is the reference
  * VectorMathSpec compares it with.
  */
case class VectorSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def leftIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        // the residual-vector case (IVF-PQ): both sides already double
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_sq_dist requires (array<float|double>, array<double>) " +
            s"inputs, got " +
            s"${left.dataType.simpleString}, ${right.dataType.simpleString}"
        )
    }
  }

  // Null semantics mirror the aggregate(zip_with(...)) fold exactly:
  // zip_with pads a length mismatch with nulls and any null element
  // nulls the whole fold — this expression returns null in both
  // cases.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val isFloat = leftIsFloat
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val d = xv - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        val get =
          if (leftIsFloat) s"((double) $a.getFloat($i))"
          else s"$a.getDouble($i)"
        s"""
           |int $n = $a.numElements();
           |if ($b.numElements() != $n) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |      ${ev.isNull} = true;
           |      break;
           |    }
           |    double $d = $get - $b.getDouble($i);
           |    $acc += $d * $d;
           |  }
           |  if (!${ev.isNull}) {
           |    ${ev.value} = $acc;
           |  }
           |}
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_sq_dist"
}

/** Column-level API for the vector expressions. */
object VectorMath {

  def vecSqDist(x: Column, c: Column): Column =
    ColumnBridge.column(
      VectorSqDist(ColumnBridge.expression(x), ColumnBridge.expression(c))
    )

  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      VectorDot(ColumnBridge.expression(a), ColumnBridge.expression(b))
    )

  def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** Cosine similarity — identical accumulation order to the
    * zip_with+aggregate formulation (and the DuckDB oracle).
    */
  def vecCosine(a: Column, b: Column): Column =
    vecDot(a, b) / (vecNorm(a) * vecNorm(b))
}
