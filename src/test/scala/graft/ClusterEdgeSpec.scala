package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r14 salted (triangle-cell) cluster-edge enumeration to the
  * brute-force within-label join it replaced: same edge SET, bit for
  * bit, on a fixture that exercises every cell class — diagonal cells
  * (both ids in the same vec_id-mod-8 bucket, where the v1 < v2 filter
  * applies), off-diagonal cells in BOTH id orders (the smaller id in
  * the higher bucket is the case a naive v1 < v2 filter silently
  * drops), borderline cosines around the r4'd θ gate, and cross-label
  * non-pairs. ~7 s: two O(n²)-ish joins over 120 16-d vectors. */
class ClusterEdgeSpec extends AnyFunSuite {
  import TestBase._

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false))))

  /** 120 vectors in 3 labels: five base directions per label plus a
    * deterministic per-id perturbation, so pair cosines spread from
    * far-below to far-above θ = 0.35 with several near the boundary. */
  private lazy val em = {
    def vec(id: Long): Array[Double] = {
      val base = Array.tabulate(16)(k =>
        math.sin((id % 5) * 2.3 + k * 0.7) + 0.2)
      val noise = Array.tabulate(16)(k =>
        math.sin(id * 12.9898 + k * 78.233) * 1.15)
      base.zip(noise).map { case (b, n) => b + n }
    }
    val rows = (0L until 120L).map(i =>
      Row(i, s"L${i % 3}", vec(i).toSeq))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("salted cell enumeration emits exactly the brute-force edge set") {
    val salted = collectSet(
      graft.operators.LlmOps.clusterEdges(spark, em))
    val x = em.select(col("label"), col("vec_id").as("v1"), col("v").as("va"))
    val y = em.select(col("label").as("l2"), col("vec_id").as("v2"),
                      col("v").as("vb"))
    val brute = collectSet(
      x.join(y, col("label") === col("l2") && col("v1") < col("v2"))
        .filter(round(call_function("cosine_sim", col("va"), col("vb")), 4)
                  >= graft.operators.LlmOps.EmbedClusterTheta)
        .select(col("v1").as("d1"), col("v2").as("d2")))
    assert(brute.nonEmpty, "fixture produced no edges — θ never exercised")
    assert(salted === brute)
    // the fixture must cover the cell classes the construction branches on
    val pairs = brute.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    assert(pairs.exists { case (a, b) => a % 8 == b % 8 },
      "no diagonal-cell pair (same vec_id mod 8) in the fixture")
    assert(pairs.exists { case (a, b) => a % 8 > b % 8 },
      "no off-diagonal pair with the smaller id in the HIGHER bucket — " +
        "the class a naive id-order filter drops")
    assert(pairs.exists { case (a, b) => a % 8 < b % 8 },
      "no off-diagonal pair with the smaller id in the lower bucket")
  }
}
