package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark's codegen class cache holds the engine's working set (see
  * [[GraftSession]]): a query set run a second time in the same JVM
  * compiles no generated class. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestBase.spark

  /** Both benchmark workloads' pinned lists. A cold run of this set
    * compiles about 190 classes at sf0.001 on 4 cores, past Spark's
    * default cache of 100 entries, where every class was evicted before
    * its next use and each further run compiled about 217 again.
    *
    * Queries whose generated code differs between runs stay out of the
    * set (see BASELINE.md): q_profile_nulls and q_schema_drift compile
    * 6 classes on every run, because Spark's distinct-aggregate rewrite
    * orders the grouping keys differently each time; q_dedup_eval,
    * q_dedup_embcos_centered, q_dedup_keep_best, q_markov,
    * q_session_cooc and q_simjoin_prefix compile 2–8 on some runs,
    * when AQE settles on another plan shape. q_market_basket and
    * q_dedup_incremental used to compile 2–4 classes on some runs,
    * because the whole-stage class name carried a codegen stage id that
    * AQE assigns in stage-completion order; they stay in the set to
    * guard the session's `useIdInClassName=false`. */
  val queries = Seq(
    "q_mix_temperature", "q_dedup_semantic", "q_dup_family_hist", "q_mrr",
    "q_dedup_incremental", "q_market_basket",
    "q_join_asof_tol", "q_sort_limit", "q_purchase_interval", "q_runs_test",
    "q_cohort_retention", "q_skyline", "q_tumbling_stream")

  test("a repeated query set compiles no generated class the second time") {
    val probe = Probe.listen(spark)
    /** Compilations per query over one run, after the batch boundary. */
    def run(): Seq[(String, Long)] = {
      Iter.clearShared(spark)
      queries.map { q =>
        probe.reset()
        SparkEntry.queries(q)(spark, TestBase.sf0001).count()
        q -> probe.snapshot.codegenCompiles
      }
    }
    try {
      run()
      val second = run().filter(_._2 > 0)
      assert(second.isEmpty, s"classes compiled again: $second")
    } finally spark.sparkContext.removeSparkListener(probe)
  }
}
