package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared session resolves every custom function with no
  * per-query registration: [[GraftSession]] installs them all, once,
  * through [[graft.plans.GraftExtensions]], and installs the
  * [[Signals]] listener through `spark.sql.queryExecutionListeners`. */
class FunctionRegistrationSpec extends AnyFunSuite {
  import TestBase.spark

  /** One well-typed call per function, as SQL argument text. */
  private val calls: Seq[(String, Seq[String])] = Seq(
    "cosine_sim" -> Seq("array(1.0d, 0.0d)", "array(1.0d, 0.0d)"),
    "minhash_sig" -> Seq("'the quick brown fox jumps'"),
    "ngram_hashes" -> Seq("'the quick brown fox jumps'"),
    "min_md5_ngram" -> Seq("'the quick brown fox jumps'"),
    "intersect_size_sorted" -> Seq("array(1L, 2L)", "array(2L, 3L)"),
    "top_k_pairs" -> Seq("1.0d", "7L", "3"),
    "bloom_build" -> Seq("7L", "100L", "1024L"),
    "bloom_might_contain" -> Seq("CAST(NULL AS BINARY)", "7L"),
    "dist_bucket" -> Seq("'al'", "array(named_struct('c', 5L))", "7L"),
    "dist_fold" -> Seq(
      "array(named_struct('k', 1L, 'pid', 0, 'cnt', 2L, 'c1', 3L))",
      "1", "1"))

  test("all ten custom functions resolve via call_function and spark.sql") {
    assert(calls.map(_._1).toSet ==
      graft.plans.GraftExtensions.functions.map(_._1).toSet)
    for ((name, args) <- calls) {
      val viaCall = spark.range(1)
        .select(call_function(name, args.map(expr): _*)).collect()
      assert(viaCall.length == 1, name)
      val viaSql = spark.sql(s"SELECT $name(${args.mkString(", ")})").collect()
      assert(viaSql.length == 1, name)
    }
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  test("bloom_build and top_k_pairs reject the wrong arity with their messages") {
    val cases = Seq(
      ("bloom_build", Seq("7L", "100L"),
        "bloom_build(key, est_items, num_bits) takes 3 arguments, got 2"),
      ("top_k_pairs", Seq("1.0d", "7L"),
        "top_k_pairs(value, id, k) takes 3 arguments, got 2"))
    for ((name, args, msg) <- cases) {
      val viaCall = intercept[Exception](spark.range(1)
        .select(call_function(name, args.map(expr): _*)).collect())
      assert(messages(viaCall).contains(msg), messages(viaCall))
      val viaSql = intercept[Exception](
        spark.sql(s"SELECT $name(${args.mkString(", ")})").collect())
      assert(messages(viaSql).contains(msg), messages(viaSql))
    }
  }

  test("the session names the Signals listener in spark.sql.queryExecutionListeners") {
    assert(spark.conf.get("spark.sql.queryExecutionListeners") ==
      classOf[SignalsListener].getName)
  }
}
