package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The custom codegen Expression: interpreted and codegen paths agree,
  * nulls propagate, SQL registration works, and it matches the
  * higher-order-function formulation bit-for-bit. */
class CosineSimilaritySpec extends AnyFunSuite {
  import TestBase._

  private val schema = StructType(Seq(
    StructField("a", ArrayType(DoubleType)),
    StructField("b", ArrayType(DoubleType))))

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  test("known values: orthogonal = 0, identical = 1, opposite = -1") {
    val d = df(Seq(
      Row(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Row(Seq(1.0, 2.0), Seq(1.0, 2.0)),
      Row(Seq(1.0, 0.0), Seq(-1.0, 0.0))))
    val out = d.select(call_function("cosine_sim", col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 0.0) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
    assert(math.abs(out(2) + 1.0) < 1e-12)
  }

  test("null input propagates to null output") {
    val d = df(Seq(Row(null, Seq(1.0, 2.0)), Row(Seq(1.0, 2.0), null)))
    val out = d.select(call_function("cosine_sim", col("a"), col("b")).as("c")).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("callable from SQL after registration") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("matches the higher-order-function formulation bit-for-bit on real data") {
    val em = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val pairs = em.crossJoin(
      em.select(col("vec_id").as("w_id"), col("v").as("w")))
      .filter(col("vec_id") < col("w_id"))
    def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, vv) => acc + vv)
    val both = pairs.select(
      call_function("cosine_sim", col("v"), col("w")).as("fast"),
      (hofDot(col("v"), col("w")) /
        (sqrt(hofDot(col("v"), col("v"))) * sqrt(hofDot(col("w"), col("w"))))).as("hof"))
    assert(both.filter(col("fast") =!= col("hof")).count() == 0)
  }
}
