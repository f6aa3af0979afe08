package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AffinityOps, GraphOps, LlmOps, ReportOps, TimeSeriesOps, WindowOps}

/** Semantics of the r6 widening operators: market-basket lift,
  * prefix-filtered similarity join (losslessness vs brute force), kNN
  * classification, multi-touch attribution, moving average, LTV and
  * graph degree/triangles. Oracle hashes pin exact values; these pin
  * the math on hand-built fixtures and the one property the oracle
  * can't see (the prefix filter finding EVERYTHING brute force finds). */
class AffinityOpsSpec extends AnyFunSuite {
  import TestBase._

  private def li(ok: Long, pk: Long): Row =
    Row(ok, pk, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("1995-02-01 00:00:00"))

  test("market_basket: pair counts, support and lift on a 3-order fixture") {
    val dir = tmpDir("basket")
    writeTable(dir, "part", Schemas.part, Seq(
      Row(1L, "p1", "BRAND_A", "t", 1, 1.0),
      Row(2L, "p2", "BRAND_B", "t", 1, 1.0),
      Row(3L, "p3", "BRAND_C", "t", 1, 1.0)))
    // orders: {A,B}, {A,B,C}, {C}; duplicate A line in order 1 must not
    // double-count (distinct-brand basket semantics).
    writeTable(dir, "lineitem", Schemas.lineitem, Seq(
      li(1L, 1L), li(1L, 1L), li(1L, 2L),
      li(2L, 1L), li(2L, 2L), li(2L, 3L),
      li(3L, 3L)))
    val out = AffinityOps.marketBasket(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
                (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    // AB in 2 of 3 orders: support 2/3, lift 3*2/(2*2) = 1.5
    assert(out(("BRAND_A", "BRAND_B")) == ((2L, 2L, 2L, 0.6667, 1.5)))
    // AC in 1 of 3: lift 3*1/(2*2) = 0.75; BC likewise
    assert(out(("BRAND_A", "BRAND_C")) == ((1L, 2L, 2L, 0.3333, 0.75)))
    assert(out.keySet == Set(("BRAND_A", "BRAND_B"), ("BRAND_A", "BRAND_C"),
                             ("BRAND_B", "BRAND_C")))
  }

  test("simjoin_prefix: lossless vs brute-force all-pairs on the sf0.001 corpus") {
    val fast = AffinityOps.simJoinPrefix(spark, sf0001)
    // independent brute force: full token equi-join, no prefix filter
    val t = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
    val sz = t.groupBy(col("doc_id")).agg(count(lit(1)).as("m"))
    val brute = t.as("a")
      .join(t.as("b"), col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("d1"), col("m").as("m1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("m").as("m2")), "d2")
      .filter(col("inter").cast("double") / (col("m1") + col("m2") - col("inter")) >= 0.9)
      .select(col("d1"), col("d2"))
    val fastPairs = fast.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fastPairs == brutePairs, s"prefix filter dropped ${brutePairs -- fastPairs}")
    assert(fastPairs.nonEmpty) // the synthetic corpus plants near-dups
  }

  test("intersect_size_sorted == size(array_intersect) on random sorted sets") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      def set() = Array.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong)
        .distinct.sorted.toSeq
      Row(i, set(), set())
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val bad = df.select(
      call_function("intersect_size_sorted", col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0L)
  }

  test("knn_classify: majority label wins; ties break to the smaller label") {
    val dir = tmpDir("knn")
    // query 0 at e1; neighbors: two label-7 vectors near e1, one label-2
    // slightly further, rest orthogonal. 2-vs-1 majority -> 7.
    def v(x: Double, y: Double) = Array(x, y, 0.0, 0.0).map(_.toFloat)
    writeTable(dir, "embeddings", Schemas.embeddings, Seq(
      Row(0L, v(1.0, 0.0), 5),
      Row(11L, v(1.0, 0.1), 7),
      Row(12L, v(1.0, -0.1), 7),
      Row(13L, v(1.0, 0.3), 2),
      Row(14L, v(0.0, 1.0), 9)))
    val out = LlmOps.knnClassify(spark, dir).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 0L && out(0).getInt(1) == 5 &&
           out(0).getInt(2) == 7 && out(0).getLong(3) == 2L, out(0).toString)
  }

  test("attribution_last and _linear: credit follows the model") {
    val dir = tmpDir("mtattr")
    // one session: view -> click -> purchase(30). 3 touches.
    writeEvents(dir, Seq(
      eventRow(1L, 0L, 1L, "view", 5.0),
      eventRow(2L, 60L, 1L, "click", 1.0),
      eventRow(3L, 120L, 1L, "purchase", 30.0)))
    val last = WindowOps.attributionLast(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(last == Map("purchase" -> 30.0), s"got $last") // exit type IS the purchase
    val lin = WindowOps.attributionLinear(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(lin == Map("view" -> (1L, 10.0), "click" -> (1L, 10.0),
                      "purchase" -> (1L, 10.0)), s"got $lin")
  }

  test("moving_avg: trailing window honors calendar gaps via RANGE") {
    val dir = tmpDir("mavg")
    def o(ok: Long, day: String, price: Double) =
      Row(ok, 1L, "O", price, java.sql.Timestamp.valueOf(s"$day 00:00:00"), "1")
    // days 0, 1, 10: day 10's window must NOT reach back to days 0-1.
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, "1995-01-01", 100.0), o(2L, "1995-01-02", 200.0),
      o(3L, "1995-01-11", 50.0)))
    val out = TimeSeriesOps.movingAvg(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3), r.getInt(4))).toMap
    val d0 = 9131 // 1995-01-01 epoch day
    assert(out(d0) == ((100.0, 100.0, 1)))
    assert(out(d0 + 1) == ((200.0, 150.0, 2)))
    assert(out(d0 + 10) == ((50.0, 50.0, 1))) // gap resets the frame
  }

  test("ltv: cumulative revenue accumulates within cohort by month age") {
    val dir = tmpDir("ltv")
    def o(ok: Long, cust: Long, day: String, price: Double) =
      Row(ok, cust, "O", price, java.sql.Timestamp.valueOf(s"$day 00:00:00"), "1")
    // two customers acquired in Jan; one buys again in March.
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, 1L, "1995-01-05", 100.0), o(2L, 2L, "1995-01-20", 50.0),
      o(3L, 1L, "1995-03-05", 30.0)))
    val out = ReportOps.ltv(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
                (r.getLong(2), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val jan = 1995 * 12 + 1
    assert(out((jan, 0)) == ((2L, 150.0, 150.0, 75.0)))
    assert(out((jan, 2)) == ((2L, 30.0, 180.0, 90.0)))
  }

  test("graph degree/triangles: structural invariants on sf0.001") {
    val deg = GraphOps.graphDegree(spark, sf0001).collect()
    assert(deg.length == 25)
    // every nation's degree is bounded by the node count
    assert(deg.forall(r => r.getLong(2) <= 25 && r.getLong(3) <= 25))
    // weighted degree conservation: total out-weight == total in-weight
    assert(deg.map(_.getLong(4)).sum == deg.map(_.getLong(5)).sum)
    val tri = GraphOps.triangles(spark, sf0001).collect()
    assert(tri.map(_.getLong(3)).sum % 3 == 0) // each triangle hits 3 nodes
    assert(tri.forall { r =>
      val (d, t, c) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      c >= 0.0 && c <= 1.0 && (d >= 2 || t == 0) &&
        (d < 2 || 2.0 * t <= d * (d - 1))
    })
  }
}
