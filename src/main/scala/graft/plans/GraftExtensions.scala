package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions._

/** The engine's single function-injection point: every custom SQL
  * function enters the session's function registry here, once, when
  * the session state is built — callable from SQL text and via
  * `functions.call_function`, with no per-query registration.
  *
  * [[graft.GraftSession.builder]] installs it; a deployment that builds
  * its own session sets `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * `bloom_build` / `bloom_might_contain` expose Spark's own bloom-filter
  * sketch pair (the expressions behind AQE's `InjectRuntimeFilter`) so
  * a pipeline can apply the same fact-scan pruning EXPLICITLY, ahead of
  * a join the planner can't see through. `bloom_build(key, est_items,
  * num_bits)` is partial-aggregable: each map task builds a local
  * filter and the merge ORs the bitsets — one pass over the dim keys
  * with O(num_bits) state, never a collect of the keys.
  * `bloom_might_contain(bloom, key)` requires a FOLDABLE bloom side
  * (constant or scalar subquery — Spark's own contract): ship the
  * SKETCH, not the data. No false negatives, so a downstream exact join
  * sees every true match; false positives only cost wasted probe rows.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {
  /** (SQL name, implementing expression class, builder). */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs.head, exprs(1))),
    ("minhash_sig", classOf[MinHashSig], exprs => MinHashSig(exprs.head)),
    ("ngram_hashes", classOf[NgramHashes], exprs => NgramHashes(exprs.head)),
    ("min_md5_ngram", classOf[MinMd5Ngram], exprs => MinMd5Ngram(exprs.head)),
    ("intersect_size_sorted", classOf[IntersectSizeSorted],
      exprs => IntersectSizeSorted(exprs.head, exprs(1))),
    ("top_k_pairs", classOf[TopKPairs], { exprs =>
      require(exprs.length == 3,
        s"top_k_pairs(value, id, k) takes 3 arguments, got ${exprs.length}")
      TopKPairs(exprs(0), exprs(1), exprs(2))
    }),
    ("bloom_build", classOf[BloomFilterAggregate], { exprs =>
      require(exprs.length == 3,
        s"bloom_build(key, est_items, num_bits) takes 3 arguments, got ${exprs.length}")
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
    }),
    ("bloom_might_contain", classOf[BloomFilterMightContain], { exprs =>
      require(exprs.length == 2,
        s"bloom_might_contain(bloom, key) takes 2 arguments, got ${exprs.length}")
      BloomFilterMightContain(exprs.head, exprs(1))
    }),
    ("dist_bucket", classOf[DistBucket], exprs => DistBucket(exprs)),
    ("dist_fold", classOf[DistFold], exprs => DistFold(exprs)))
}
