package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmOps

/** q_dedup_embcos must survive label skew: r8's shape joined all pairs
  * within a label block (O(n²) in the largest block — quadratic the day
  * label cardinality is low). The r9 shape generates candidates through
  * the sign-LSH band join, so even a SINGLE-label corpus shards across
  * (table, bucket) keys. This suite plants that worst case and asserts
  * (a) the planted near-dups are still found (LSH loses nothing here:
  * the perturbation never flips a component sign, so planted pairs
  * collide in every table) and (b) the candidate join's key set
  * includes the bucket columns — i.e. the plan physically cannot
  * degenerate to one all-pairs block per label. */
class EmbcosSkewSpec extends AnyFunSuite {
  import TestBase._

  private val dim = 64

  /** n vectors, ALL with the same label (maximum block skew). Pairs
    * (2k, 2k+1) are planted near-dups: same deterministic base vector,
    * the odd twin nudged on component 0 WITHOUT a sign flip (so the
    * twins share every sign-LSH bucket). Distinct bases are
    * pseudo-random sign patterns — cosine far below the twins'. */
  private def skewedCorpus(n: Int): DataFrame = {
    val rows = (0 until n).map { id =>
      val base = id / 2
      val v = Array.tabulate(dim) { j =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"emb:$base:$j")
        val x = ((h & 0xffff).toDouble / 0xffff) - 0.5
        if (x == 0.0) 0.25 else x
      }
      if (id % 2 == 1) v(0) = v(0) + 0.01 * math.signum(v(0))
      Row(id.toLong, "only_label", v.toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("label", StringType),
        StructField("v", ArrayType(DoubleType)))))
  }

  test("single-label corpus: planted near-dup twins fill the top-20") {
    val res = LlmOps.dedupEmbcosOn(spark, skewedCorpus(40)).collect()
    assert(res.length == 20)
    val pairs = res.map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"))).toSet
    val planted = (0 until 20).map(k => (2L * k, 2L * k + 1)).toSet
    assert(pairs == planted,
      s"top-20 is not the planted twin set: missing=${planted -- pairs} " +
        s"extra=${pairs -- planted}")
  }

  /** n vectors, one label, every component POSITIVE (a strongly biased,
    * non-mean-centered embedding space — common with post-ReLU or
    * sentence-embedding models). The axis-aligned sign hash then maps
    * EVERY vector to bucket 15 in every table: bucketing degenerates to
    * one block per label (r10 verdict item 7's concern). Twins (2k,
    * 2k+1) are planted as in [[skewedCorpus]]. */
  private def biasedCorpus(n: Int): DataFrame = {
    val rows = (0 until n).map { id =>
      val base = id / 2
      val v = Array.tabulate(dim) { j =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"bias:$base:$j")
        0.2 + (h & 0xffff).toDouble / 0xffff // in (0.2, 1.2): strictly positive
      }
      if (id % 2 == 1) v(0) = v(0) + 0.01
      Row(id.toLong, "only_label", v.toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("label", StringType),
        StructField("v", ArrayType(DoubleType)))))
  }

  test("biased non-centered corpus: correctness holds even when buckets degenerate") {
    // Every vector has all-positive components → bucket 15 in every
    // table → the candidate set IS the full within-label pair set.
    // That is the documented limitation (LlmOps.dedupEmbcos scaladoc):
    // sign-LSH pruning needs roughly mean-centered components; a biased
    // corpus loses the pruning but NEVER the answer, because the
    // degenerate bucket join still produces every pair as a candidate.
    val res = LlmOps.dedupEmbcosOn(spark, biasedCorpus(24)).collect()
    assert(res.length == 20)
    val planted = (0 until 12).map(k => (2L * k, 2L * k + 1)).toSet
    val top12 = res.take(12).map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"))).toSet
    assert(top12 == planted,
      s"planted twins not ranked first on the biased corpus: " +
        s"missing=${planted -- top12} extra=${top12 -- planted}")
  }

  /** r16 (r15 verdict ask #1): a cell past 4× its target occupancy
    * must split over the second hash lane — and still surface the
    * planted twins. 1300 all-positive vectors degenerate to ONE
    * (label, table, bucket) cell per table; target =
    * max(floor 16, 1300 DIV 2^4) = 81, so occ = 1300 > 4·81 = 324
    * activates the cap with k = ceil(1300/81) = 17 sub-lanes per
    * table. A twin pair survives candidate generation iff
    * xxhash64(t, v1) ≡ xxhash64(t, v2) mod 17 in at least one of the
    * 8 tables (p ≈ 1-(16/17)^8 ≈ 0.38 per pair, deterministic per
    * pair) — with 650 planted twins the survivors flood the top-20
    * while every non-twin pair ranks far below. (The 24-row biased
    * corpus above stays UNDER the 4×16-row floor — its all-pairs
    * degenerate candidate set is a correctness contract the floor
    * protects.) */
  test("oversized cell splits over the sub lane and twins still fill the top-20") {
    val res = LlmOps.dedupEmbcosOn(spark, biasedCorpus(1300)).collect()
    assert(res.length == 20)
    res.foreach { r =>
      val (v1, v2) = (r.getAs[Long]("v1"), r.getAs[Long]("v2"))
      assert(v1 % 2 == 0 && v2 == v1 + 1,
        s"top-20 entry ($v1, $v2) is not a planted twin")
      assert(r.getAs[Double]("sim") > 0.999)
    }
    // the split is physically in the plan: the candidate self-join
    // keys on the sub lane beside (label, t, bucket)
    val p = LlmOps.dedupEmbcosOn(spark, biasedCorpus(1300))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val joinDetail = p.split("\n\n")
      .find(b => b.contains("Join") && b.contains("v1") && b.contains("v2")
        && (b.contains("<") || b.contains("LessThan")))
    assert(joinDetail.isDefined, "candidate self-join not found:\n" + p)
    assert(joinDetail.get.contains("sub"),
      "candidate join does not key on the occupancy sub lane:\n" +
        joinDetail.get)
  }

  test("candidate join keys include the LSH bucket columns (no per-label all-pairs)") {
    val p = LlmOps.dedupEmbcosOn(spark, skewedCorpus(40))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the candidate self-join is the only join whose condition carries
    // v1 < v2; its equi-key set must contain t and bucket, not label
    // alone
    val joinDetail = p.split("\n\n")
      .find(b => b.contains("Join") && b.contains("v1") && b.contains("v2")
        && (b.contains("<") || b.contains("LessThan")))
    assert(joinDetail.isDefined, "candidate self-join not found in plan:\n" + p)
    assert(joinDetail.get.contains("bucket"),
      "candidate join does not key on the LSH bucket:\n" + joinDetail.get)
  }

  /** r17 (r16 ADVICE): cap activation must be OBSERVABLE — the split's
    * recall trade is invisible in results, so the operator attaches a
    * CollectMetrics node to the heavy frame and graft.Signals' session
    * listener logs on non-zero. This pins BOTH directions: the metric
    * fires (capped_cells > 0) on the planted oversized-cell corpus and
    * stays zero on a corpus the cap must not touch. */
  test("occupancy-cap activation is observable through the attached metric") {
    val captured = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        qe.observedMetrics.foreach { case (n, r) =>
          if (n.startsWith(Signals.EmbcosOccCap)) captured.put(n, r) }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      LlmOps.dedupEmbcosOn(spark, biasedCorpus(1300)).collect()
      Probe.drainBus(spark) // ExecutionListenerBus rides the shared bus
      val active = captured.values.asScala.toSeq
      assert(active.nonEmpty, "no occupancy-cap metric observed")
      assert(active.exists(r => r.getLong(0) > 0L),
        s"planted oversized cells did not report through the metric: $active")
      assert(active.exists(r => r.getInt(1) == 17),
        s"expected 17 sub-lanes (ceil(1300/81)) in $active")
      captured.clear()
      LlmOps.dedupEmbcosOn(spark, skewedCorpus(40)).collect()
      Probe.drainBus(spark)
      // On a benign corpus the heavy frame is EMPTY, and AQE's
      // empty-relation propagation may prune the whole broadcast
      // branch — CollectMetrics included — so the metric either
      // reports zero cells or (pruned) never arrives. Both are
      // silence; what must never happen is a non-zero report.
      val idle = captured.values.asScala.toSeq
      assert(idle.forall(r => r.getLong(0) == 0L),
        s"cap metric reported capped cells on the benign corpus: $idle")
    } finally spark.listenerManager.unregister(l)
  }

  test("raw and centered variants share the blocked-pair generator (r12 unification)") {
    // r11 verdict ask #4: ONE candidate-generation path for the embcos
    // family. Both production queries must show the same blocked-pair
    // subtree — a candidate self-join keyed on (label, t, bucket) —
    // differing only in the hash-plane expression feeding `bucket`.
    // (Result-invisibility of the refactor is proven by the oracle
    // hash gate; this pins the SHAPE so a future edit cannot silently
    // fork the paths again.)
    for ((name, df) <- Seq(
           "raw" -> LlmOps.dedupEmbcos(spark, TestBase.sf0001),
           "centered" -> LlmOps.dedupEmbcosCentered(spark, TestBase.sf0001))) {
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val joinDetail = p.split("\n\n")
        .find(b => b.contains("Join") && b.contains("v1") && b.contains("v2")
          && (b.contains("<") || b.contains("LessThan")))
      assert(joinDetail.isDefined, s"$name: candidate self-join not found:\n" + p)
      assert(joinDetail.get.contains("bucket") && joinDetail.get.contains("label"),
        s"$name: candidate join not keyed on (label, t, bucket):\n" + joinDetail.get)
    }
  }
}
