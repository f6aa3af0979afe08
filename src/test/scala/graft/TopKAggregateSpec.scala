package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native top_k_pairs aggregate must be row-identical to the window
  * row_number formulation — including ties — and invariant under how
  * the input happens to be partitioned (partial-merge order). */
class TopKAggregateSpec extends AnyFunSuite {
  import TestBase._

  private def viaAggregate(df: org.apache.spark.sql.DataFrame, k: Int) = {
    df.groupBy(col("g"))
      .agg(call_function("top_k_pairs", col("v"), col("id"), lit(k)).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("g"), col("e.id").as("id"), col("e.value").as("v"),
              (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("g"), col("rn"))
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
    df.select(col("g"), col("id"), col("v"), row_number().over(w).as("rn"))
      .filter(col("rn") <= k)
      .orderBy(col("g"), col("rn"))
  }

  test("top_k_pairs == window row_number on ties and sparse groups") {
    import spark.implicits._
    // group a: ties on v (ids 2,3 both 5.0 — smaller id ranks first);
    // group b: fewer rows than k; group c: exactly k.
    val df = Seq(
      ("a", 1L, 9.0), ("a", 2L, 5.0), ("a", 3L, 5.0), ("a", 4L, 1.0),
      ("b", 10L, 2.0),
      ("c", 20L, 3.0), ("c", 21L, 2.0), ("c", 22L, 1.0)
    ).toDF("g", "id", "v")
    val agg = viaAggregate(df, 3).collect().toSeq
    val win = viaWindow(df, 3).collect().toSeq
    assert(agg == win, s"agg=$agg\nwin=$win")
    assert(agg.count(_.getString(0) == "b") == 1, "sparse group must emit < k rows")
  }

  test("result is invariant under adversarial repartitioning (merge order)") {
    import spark.implicits._
    val base = (1 to 500).map(i => ((i % 7).toString, i.toLong, (i % 13).toDouble))
      .toDF("g", "id", "v")
    val a = viaAggregate(base.repartition(1), 5).collect().toSeq
    val b = viaAggregate(base.repartition(16, col("id")), 5).collect().toSeq
    val c = viaAggregate(base.repartition(3, col("v")), 5).collect().toSeq
    assert(a == b && b == c)
    assert(a == viaWindow(base, 5).collect().toSeq)
  }

  test("q_topk_per_group (aggregate-backed) matches its window formulation on sf0.001") {
    val agg = graft.operators.WindowOps.topkPerGroup(spark, sf0001).collect().toSeq
    // independent window reference, built from the same revenue input
    val li = Tables.lineitem(spark, sf0001)
    val p = Tables.part(spark, sf0001)
    val rev = li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("revenue").desc, col("p_partkey"))
    val win = rev.select(col("p_brand"), col("p_partkey"), col("revenue"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("p_brand"), col("rn"))
      .collect().toSeq
    assert(agg.map(_.toSeq).toSet == win.map(_.toSeq).toSet)
    assert(agg.size == win.size)
  }

  test("null inputs fail loudly instead of silently dropping rows") {
    import spark.implicits._
    val df = Seq(("a", 1L, Some(9.0)), ("a", 2L, None: Option[Double]))
      .toDF("g", "id", "v")
    val ex = intercept[Exception] { viaAggregate(df, 2).collect() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("top_k_pairs: null")),
      s"expected loud null-contract failure, got: ${chain(ex).mkString(" | ")}")
  }

  test("physical plan is ObjectHashAggregate, not Window+Sort") {
    val p = graft.operators.WindowOps.topkPerGroup(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(!p.contains("Window"), "top-k still plans a Window:\n" + p.take(800))
  }
}
