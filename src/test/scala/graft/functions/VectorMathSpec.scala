package graft.functions

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorMathSpec extends AnyFunSuite with SparkSpec {

  test("codegen vec_dot is bit-identical to the HOF formulation") {
    import spark.implicits._
    val df = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
      .select(col("vec_id"), col("embedding"))
    val pairs = df
      .crossJoin(
        df.select(col("vec_id").as("vid2"), col("embedding").as("e2"))
      )
      .filter(col("vec_id") < 10)
    val diff = pairs
      .select(
        VectorMath.vecDot(col("embedding"), col("e2")).as("cg"),
        Similarity.dotProductHof(col("embedding"), col("e2")).as("hof")
      )
      .filter(col("cg") =!= col("hof"))
    assert(diff.count() == 0L)
  }

  test("vec_dot handles nulls and interpreted (non-codegen) eval") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1f, 2f, 3f)), Some(Seq(4f, 5f, 6f))),
      (None, Some(Seq(1f, 1f))),
      (Some(Seq(2f, 2f)), None)
    ).toDF("a", "b")
    val got = df
      .select(VectorMath.vecDot(col("a"), col("b")).as("d"))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).contains(1 * 4 + 2 * 5 + 3 * 6.0))
    assert(got(1).isEmpty && got(2).isEmpty)
    // interpreted path (no codegen inside filter on literal rows)
    val v = VectorDot(
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(Seq(1f, 2f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(Seq(3f, 4f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))
    ).eval(null)
    assert(v == 11.0)
  }

  test("vec_sq_dist is bit-identical to the higher-order fold") {
    val df = graft.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
      .limit(200)
    val withC = df.crossJoin(
      df.select(
        org.apache.spark.sql.functions
          .transform(col("embedding"), x => x.cast("double"))
          .as("c_vec")
      ).limit(5)
    )
    val diff = withC
      .select(
        VectorMath.vecSqDist(col("embedding"), col("c_vec")).as("cg"),
        graft.operators.Clustering.sqDistHof(col("embedding"), col("c_vec"))
          .as("hof")
      )
      .filter(col("cg") =!= col("hof"))
    assert(diff.count() == 0L)
  }

  test("vec_sq_dist double×double branch matches the HOF fold") {
    val df = graft.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
      .limit(200)
      .select(
        org.apache.spark.sql.functions
          .transform(col("embedding"), x => x.cast("double"))
          .as("xd")
      )
    val withC = df.crossJoin(
      df.select(col("xd").as("c_vec")).limit(5)
    )
    val diff = withC
      .select(
        VectorMath.vecSqDist(col("xd"), col("c_vec")).as("cg"),
        graft.operators.Clustering.sqDistHof(col("xd"), col("c_vec"))
          .as("hof")
      )
      .filter(col("cg") =!= col("hof"))
    assert(diff.count() == 0L)
  }
}
