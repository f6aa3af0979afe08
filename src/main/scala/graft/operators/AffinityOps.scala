package graft.operators

import graft.Iter.IterOps
import graft.{Fin, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Co-occurrence affinity analytics: market-basket association mining
  * over orders and a prefix-filtered set-similarity self-join over the
  * document corpus (SURVEY.md §2.8 additions, r6).
  *
  * Scale notes (100 TB):
  *  - market basket reduces the fact table to one distinct
  *    (order, brand) shuffle; the pair self-join is co-partitioned on
  *    the order key and its output is bounded by |vocabulary|² — per
  *    basket the fan-out is quadratic only in the number of DISTINCT
  *    brands in that basket (vocabulary-capped), never in lineitems;
  *  - the similarity join is the standard prefix-filter (SSJoin/PPJoin
  *    family): tokens are ordered globally by ascending document
  *    frequency and only each document's first
  *    |d| − ⌈τ·|d|⌉ + 1 rarest tokens generate candidate pairs — a
  *    LOSSLESS filter for Jaccard ≥ τ, so the expensive exact
  *    verification runs on candidates only. Candidate generation joins
  *    on the RAREST tokens, which inherently bounds per-key fan-out
  *    (a token with document frequency f produces ≤ f² pairs and the
  *    prefix keeps low-f tokens); the df computation and the verify
  *    join are partial-aggregable shuffles.
  */
object AffinityOps {
  import Fin._

  /** Build-once distinct basket frame (order, brand) published per
    * source state — the INGEST-time basket table the affinity family
    * reads (q_market_basket, q_item_cf), exactly like the session
    * store for session reports: the fact⋈dim join + distinct runs once
    * when data lands, not once per report. Keyed on lineitem.parquet's
    * fingerprint (part regenerates with it — the driver rewrites whole
    * SF dirs). */
  def basketStoreDir(s: SparkSession, d: String): String =
    graft.sources.CachedDir.materialize(s, d, "lineitem.parquet",
                                        "basket_store") { tmp =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
              col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
        .distinct()
        .write.mode("overwrite").parquet(tmp)
    }

  /** The published basket frame (shared with EvalOps.itemCf). */
  def basketStore(s: SparkSession, d: String): DataFrame = baskets(s, d)

  private def baskets(s: SparkSession, d: String): DataFrame =
    s.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ok",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.StringType))))
      .parquet(basketStoreDir(s, d))

  /** q_market_basket — brand-level association mining: for every pair
    * of part brands co-occurring in an order, the co-occurrence count,
    * per-brand counts, support and lift. Lift > 1 = brands bought
    * together more than independence predicts — the classic
    * "frequently bought together" signal.
    *
    * Determinism: support and lift are exact-integer ratios divided
    * once and rounded once (the hash-safe rule). */
  def marketBasket(s: SparkSession, d: String): DataFrame = {
    // the published basket store feeds FOUR subtrees (total, per-brand
    // counts, both sides of the pair join) — persist() computes the
    // store read once for all four; recompute-safe under executor loss
    // (deterministic parquet lineage), unlike the r16 localCheckpoint,
    // whose truncated lineage made a lost block fatal on a real cluster
    val ob = baskets(s, d).shared
    val n = ob.agg(count_distinct(col("ok")).as("n_orders"))
    val bc = ob.groupBy(col("b")).agg(count(lit(1)).as("nb"))
    val pairs = ob.as("x")
      .join(ob.as("y"), col("x.ok") === col("y.ok") && col("x.b") < col("y.b"))
      .groupBy(col("x.b").as("brand_a"), col("y.b").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
    ord(
      pairs
        .join(broadcast(bc.select(col("b").as("brand_a"), col("nb").as("n_a"))),
              "brand_a")
        .join(broadcast(bc.select(col("b").as("brand_b"), col("nb").as("n_b"))),
              "brand_b")
        .crossJoin(broadcast(n))
        .select(col("brand_a"), col("brand_b"), col("n_ab"),
                col("n_a"), col("n_b"),
                r4(col("n_ab").cast("double") / col("n_orders")).as("support"),
                r4((col("n_orders") * col("n_ab")).cast("double") /
                   (col("n_a") * col("n_b"))).as("lift")),
      col("brand_a"), col("brand_b"))
  }

  /** Jaccard threshold for q_simjoin_prefix. 0.9 = near-duplicate
    * territory: the synthetic corpus is template-generated and MOST
    * pairs share >60% of their tokens, so a lower τ would make the
    * result (and any algorithm's cost) inherently quadratic — at 0.9
    * the prefix keeps ~10% of each document's tokens and prunes hard. */
  private val Tau = 0.9

  /** q_simjoin_prefix — prefix-filtered Jaccard set-similarity
    * self-join over distinct word tokens: emits every document pair
    * with token-Jaccard ≥ τ (0.9), found WITHOUT an all-pairs compare.
    *
    * Plan: (1) distinct (doc, token) + per-doc size + per-token df;
    * (2) each doc keeps its |d| − ⌈τ·|d|⌉ + 1 tokens that are rarest
    * under the global (df, token) order — any pair with J ≥ τ must
    * share one of these prefix tokens (pigeonhole on the overlap bound
    * |A∩B| ≥ τ/(1+τ)·(|A|+|B|)), so the filter is lossless; (3)
    * candidates = equi-join on prefix tokens, pruned IN the join by two
    * more lossless conditions — the length filter (J ≥ τ ⇒ min(m) ≥
    * τ·max(m)) and PPJoin's positional filter (the matched prefix token
    * sits at sorted position p, so the overlap can be at most
    * min(m₁−p₁, m₂−p₂)+1, which must reach ⌈τ/(1+τ)·(m₁+m₂)⌉); (4)
    * exact verification: candidates SHUFFLE-join the per-doc sorted
    * token-HASH arrays, co-partitioned on the doc key. The doc-array
    * frame is corpus-sized (billions of docs × ~100 hashes = hundreds
    * of GB at 100 TB), so it must never be broadcast; the candidate
    * set is the small side after the prefix/length/positional filters,
    * and AQE is still free to demote either join to a broadcast at
    * small SFs where the MEASURED size permits. The intersection is
    * computed per pair with `array_intersect` over int64s, so NOTHING
    * row-multiplies: the former token-level verification join exploded
    * candidates × tokens × tokens (hundreds of millions of rows at
    * sf0.1, 82 s), and string arrays paid per-row UTF8 hashing.
    * Tokens are xxhash64'd for the arrays only — set SIZES stay
    * string-exact — under q_dedup_ngram's documented contract (counts
    * agree absent 64-bit collisions). NOTE this corpus is ~8% genuine
    * near-dup pairs at τ=0.9 (965k true pairs at sf0.1), so the OUTPUT
    * is inherently large; the filters bound the wasted verifications
    * (3.3M candidates for 965k hits), not the true result. Both
    * counts grow exactly linearly, 3.4 candidates per hit at sf0.1,
    * 10× and 100× (counted in r17; BASELINE.md keeps the table).
    * The threshold applies to the exact-integer intersection ratio,
    * divided once — hash-safe and identical in the oracle's all-pairs
    * form. */
  def simJoinPrefix(s: SparkSession, d: String): DataFrame = {
    // the distinct token frame feeds FOUR subtrees (sizes, dfs, prefix
    // rows, verification arrays) — persist() computes the
    // explode+distinct once instead of four times (the ivf2 pattern);
    // recompute-safe (deterministic lineage), so an executor loss
    // re-derives lost partitions instead of killing the query
    val t = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
      .shared
    val sz = t.groupBy(col("doc_id")).agg(count(lit(1)).as("m"))
    val df = t.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // Per-doc rarity position under the global (df, tok) order; the
    // window partitions by doc_id — never an unpartitioned sort.
    // persisted: BOTH sides of the candidate self-join read this
    // frame — without it the df-join + per-doc window + sz-join run
    // twice (x and y each rebuilt the subtree; measured ~1.5 s of the
    // sf0.1 bench). The aliased self-join below resolves through the
    // analyzer's relation dedup, so no lineage cut is needed for it.
    val pos = t.join(df, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .join(sz, "doc_id")
      .filter(col("pos") <= col("m") - ceil(lit(Tau) * col("m")) + 1)
      .select(col("doc_id"), col("tok"), col("pos"), col("m"))
      .shared
    val overlapNeeded = ceil(lit(Tau / (1 + Tau)) *
      (col("x.m") + col("y.m")))
    // Candidate-pair exchange width pin (the q_bootstrap_ci idiom, r14
    // scale defect #3's cousin): candidates grow ~linearly with corpus
    // bytes (measured 5.5 pairs/byte at sf0.1 AND at the 100x probe),
    // but the distinct + verification exchanges downstream of the pair
    // explosion default to spark.sql.shuffle.partitions — at the 100x
    // probe's pinned width of 4 that put ~80M pairs (multi-GB sorts)
    // per task and spilled (exp 1.24-1.59, 320-727 s). Width is derived
    // from the PLAN-TIME source size (one candidate-pair row ≈ 330
    // shuffle bytes per source byte → ~190 MB of pair shuffle per
    // 512 KB of documents). Activation threshold is 4× the configured
    // width, NOT 1×: the pin trades the dedup's map-side partial agg
    // (candidates duplicate across shared prefix tokens) plus one extra
    // d2 exchange for wider in-memory sorts, and the measured crossover
    // sits between the probe decades (10×: pinned 26-29 s vs unpinned
    // 17.8 s; 100×: pinned 244-289 s vs unpinned 320-727 s with 2.3×
    // spill-scheduling swings). Below the threshold the plan is
    // byte-identical to the unpinned form, so every gated SF and the
    // 10× anchor are untouched. A numbered by-column repartition is
    // exempt from AQE coalescing — AQE sizes these exchanges by
    // PRE-explosion bytes and would otherwise serialize them.
    val nShuf = s.conf.get("spark.sql.shuffle.partitions").toInt
    val docBytes = Tables.documents(s, d)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val width = (docBytes / (512L << 10)).min(1 << 18).toInt
    val active = width > 4 * nShuf
    def pin(f: DataFrame, c: Column): DataFrame =
      if (active) f.repartition(width, c) else f
    val cand = pin(
      pos.as("x")
        .join(pos.as("y"),
              col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id") &&
              least(col("x.m"), col("y.m")) >=
                lit(Tau) * greatest(col("x.m"), col("y.m")) &&
              least(col("x.m") - col("x.pos"), col("y.m") - col("y.pos")) + 1 >=
                overlapNeeded)
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")),
      col("d1"))
      // clustering (d1, d2) is satisfied by the d1 pin (subset), so the
      // dedup aggregate runs AT the pinned width with no extra exchange
      // and its output stays co-partitioned for the d1 verification join
      .dropDuplicates("d1", "d2")
    val docArr = t.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(xxhash64(col("tok")))).as("toks"),
           count(lit(1)).as("m"))
    val a = docArr.select(col("doc_id").as("d1"), col("toks").as("t1"),
                          col("m").as("m1"))
    val b = docArr.select(col("doc_id").as("d2"), col("toks").as("t2"),
                          col("m").as("m2"))
    ord(
      pin(cand.join(a, "d1"), col("d2")).join(b, "d2")
        .withColumn("inter",
          call_function("intersect_size_sorted", col("t1"), col("t2")))
        .withColumn("j", col("inter").cast("double") /
                         (col("m1") + col("m2") - col("inter")))
        .filter(col("j") >= Tau)
        .select(col("d1"), col("d2"), col("inter"), col("m1"), col("m2"),
                r4(col("j")).as("jaccard")),
      col("d1"), col("d2"))
  }
}
