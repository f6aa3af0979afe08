package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The contract q_join_bloom's correctness rests on: a bloom filter has
  * NO false negatives (every inserted key probes true), and its false
  * positives stay near the sized-for rate so the pruning is real. */
class BloomExprsSpec extends AnyFunSuite {
  import TestBase._

  test("bloom_build/bloom_might_contain: zero false negatives, bounded false positives") {
    import spark.implicits._
    val keys = spark.range(0, 2000).select((col("id") * 2).as("k")) // evens
    val sketch = keys
      .agg(call_function("bloom_build", col("k"), lit(2000L), lit(20000L)))
      .head().getAs[Array[Byte]](0)

    val probed = spark.range(0, 4000)
      .select(col("id"),
        call_function("bloom_might_contain", lit(sketch), col("id")).as("hit"))
      .collect()
    val falseNeg = probed.count(r => r.getLong(0) % 2 == 0 && !r.getBoolean(1))
    val falsePos = probed.count(r => r.getLong(0) % 2 == 1 && r.getBoolean(1))
    assert(falseNeg == 0, s"$falseNeg inserted keys probed false")
    // 10 bits/key ~= 1% fp; allow 5x slack on 2000 odd probes
    assert(falsePos <= 100, s"$falsePos false positives out of 2000")
  }
}
