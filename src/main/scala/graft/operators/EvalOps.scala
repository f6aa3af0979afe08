package graft.operators

import graft.Iter.IterOps
import graft.{Fin, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation analytics beyond single-number scores (SURVEY.md §2.8d
  * additions, r11): calibration reliability (ECE), the precision/recall
  * operating curve, inter-rater agreement (Cohen's κ), and item-item
  * collaborative-filtering neighbors — the eval artifacts a scored
  * pipeline ships alongside q_auc/q_decile_lift's rank metrics.
  *
  * Scale notes (100 TB):
  *  - every query reduces the fact table to ONE partial-aggregable
  *    per-entity rollup first (user score frame, doc flag frame, basket
  *    frame); the expensive windows then run over domain-bounded frames
  *    (distinct scores, 10 calibration bins, |brands|² pairs) — never
  *    over event-scale rows;
  *  - the calibration rank is a global sort of the SCORE FRAME only
  *    (users — the q_decile_lift ntile shape); at 100 TB it would switch
  *    to approx-quantile binning with the same downstream contract;
  *  - item-CF pair counts are co-partitioned on the basket key and
  *    bounded by distinct brands per basket (the q_market_basket bound);
  *    per-item ranking is a window over the |brands|² pair frame.
  *
  * Determinism: every ratio divides exact int64 once and r4's; rankings
  * order by ROUNDED similarity with a real tie-break key (§2.10).
  */
object EvalOps {
  import Fin._

  /** Shared per-user score/outcome frame (q_auc's derivation): score =
    * lifetime spend in exact cents, outcome = day-one conversion (first
    * purchase within 24 h of first activity). One fact-scale shuffle. */
  private def scoredUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"),
           min(epochSec(col("ts"))).as("first_sec"),
           min(when(col("event_type") === "purchase", epochSec(col("ts"))))
             .as("first_purch"))
      .withColumn("pos",
        when(col("first_purch").isNotNull &&
             col("first_purch") - col("first_sec") <= 86400, 1L).otherwise(0L))

  /** q_calibration — reliability table + expected calibration error of
    * the spend-rank score against day-one conversion: the predicted
    * probability is the user's exact rank percentile (rank/n over
    * (cents, user_id)), binned into 10 equal-width probability bins;
    * per bin the mean confidence vs the observed conversion rate, and
    * the |gap| weighted by bin mass sums to ECE — the "is the score a
    * probability?" readout q_auc's rank view cannot give.
    *
    * Determinism: conf, acc, gap and ECE are all exact-int64 rationals
    * divided once and r4'd — conf_b = Σrank/(n_b·n), acc_b = Σpos/n_b,
    * gap_b = |Σpos·n − Σrank|/(n_b·n), ECE = Σ_b|Σpos·n − Σrank|/n²;
    * the bin id is pure integer division ((rank−1)·10) DIV n. */
  def calibration(s: SparkSession, d: String): DataFrame = {
    val base = scoredUsers(s, d)
    val n1 = base.agg(count(lit(1)).as("n"))
    // rank from the distributed prefix tier — the per-user score frame
    // never funnels through one partition (q_gini form)
    val ranked = graft.functions.Dist.prefix(base, Nil,
        Seq(col("cents"), col("user_id")), rowNum = Some("r"))
      .crossJoin(broadcast(n1))
      .withColumn("bin", expr("((r - 1) * 10) DIV n").cast("int"))
    // bins feeds the rows AND the 1-row ECE total; both branches re-use
    // Dist.prefix's internal persist (r16: an evictable compute-once
    // cache, not a checkpoint), so the double plan costs one extra
    // ≤10-group rollup, not a second scan
    val bins = ranked.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_users"), sum(col("r")).as("sr"),
           sum(col("pos")).as("p"), first(col("n")).as("n"))
    // ECE total over the ≤10-row bin frame: window-free 1-row broadcast
    val eceTot = bins.agg(
      sum(abs(col("p") * col("n") - col("sr"))).as("__gap_tot"))
    ord(
      bins.crossJoin(broadcast(eceTot))
        .select(col("bin"), col("n_users"),
          r4(col("sr").cast("double") / (col("n_users") * col("n"))).as("conf"),
          r4(col("p").cast("double") / col("n_users")).as("acc"),
          r4(abs(col("p") * col("n") - col("sr")).cast("double") /
             (col("n_users") * col("n"))).as("gap"),
          r4(col("__gap_tot").cast("double") / (col("n") * col("n")))
            .as("ece")),
      col("bin"))
  }

  /** q_pr_curve — the precision/recall operating curve of the spend
    * score: at every distinct score threshold t (predict positive iff
    * cents ≥ t), TP/FP, precision, recall and F1 — the
    * threshold-choosing artifact beside q_auc's single number.
    *
    * Scale shape: one per-user rollup, then the TP/FP cumulations over
    * the DISTINCT-score frame on [[graft.functions.Dist.prefix]]
    * (range-partitioned — no single-partition sort) exactly like q_auc.
    * F1 = 2TP/(TP+FP+n₁) keeps everything a single exact division. */
  def prCurve(s: SparkSession, d: String): DataFrame = {
    val base = scoredUsers(s, d)
    val byVal = base.groupBy(col("cents"))
      .agg(sum(col("pos")).as("np"),
           sum(lit(1L) - col("pos")).as("nn"))
    val tot = base.agg(sum(col("pos")).as("n1"))
    ord(
      graft.functions.Dist.prefix(byVal, Nil, Seq(col("cents").desc),
          cums = Seq("tp" -> col("np"), "fp" -> col("nn")))
        .crossJoin(broadcast(tot))
        .select(col("cents").as("thr_cents"), col("tp"), col("fp"),
                r4(col("tp").cast("double") / (col("tp") + col("fp")))
                  .as("prec"),
                r4(col("tp").cast("double") / col("n1")).as("recall"),
                r4(lit(2.0) * col("tp") / (col("tp") + col("fp") + col("n1")))
                  .as("f1")),
      col("thr_cents"))
  }

  /** q_cohens_kappa — chance-corrected agreement between the two
    * independent document screens the curation pipeline already runs:
    * rater A = q_text_filter's quality gate, rater B = q_text_repetition's
    * repetition gate (top_tok_frac < 0.2 AND dup_bigram_frac < 0.2).
    * Emits the full confusion table, observed/expected agreement and κ —
    * the "are these two filters redundant?" readout that decides whether
    * a screen is worth its scan.
    *
    * Determinism: flags compare ROUNDED ratios (both engines round
    * identically by §2.10); κ = (N·(n11+n00) − Σ marginals)/(N² − Σ)
    * stays exact int64 until ONE division.
    *
    * Scale shape: both raters are scan-side per-doc expressions (the
    * bigram frame is the one extra per-doc aggregate); the confusion
    * table is a 4-group partial-aggregable shuffle; κ math is 1-row. */
  def cohensKappa(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = split(col("text"), " ")
    val nTokens = size(toks)
    val qual = docs.select(col("doc_id"),
        nTokens.as("n_tokens"),
        r4(length(regexp_replace(col("text"), " ", "")).cast("double") / nTokens)
          .as("mtl"),
        r4(size(array_distinct(toks)).cast("double") / nTokens).as("uq"),
        r4(size(filter(toks, t => t === "the" || t === "a")).cast("double") /
           nTokens).as("sr"))
      .select(col("doc_id"),
        (col("n_tokens").between(10, 5000) && col("mtl").between(2.0, 12.0) &&
         col("uq") > 0.2 && col("sr") < 0.3).cast("long").as("a"))
    // rater B: the q_text_repetition fractions, thresholded
    val tokc = docs.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val topf = tokc.groupBy(col("doc_id"))
      .agg(max(col("c")).as("maxc"), sum(col("c")).as("n"))
    val bgArr = when(size(col("toks")) >= 2,
        expr("transform(sequence(1, size(toks) - 1), " +
             "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
      .otherwise(array().cast("array<string>"))
    val bgs = docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
              greatest(size(col("toks")) - 1, lit(0)).as("n_bg"),
              size(array_distinct(bgArr)).as("n_bg_d"))
    val rep = topf.join(bgs, "doc_id")
      .select(col("doc_id"),
        (r4(col("maxc").cast("double") / col("n")) < 0.2 &&
         r4(when(col("n_bg") === 0, lit(0.0))
             .otherwise((col("n_bg") - col("n_bg_d")).cast("double") /
                        col("n_bg"))) < 0.2).cast("long").as("b"))
    val cells = qual.join(rep, "doc_id")
      .agg(sum(col("a") * col("b")).as("n11"),
           sum(col("a") * (lit(1L) - col("b"))).as("n10"),
           sum((lit(1L) - col("a")) * col("b")).as("n01"),
           sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
    ord(
      cells
        .withColumn("nn", col("n11") + col("n10") + col("n01") + col("n00"))
        .withColumn("pe_num",
          (col("n11") + col("n10")) * (col("n11") + col("n01")) +
          (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .select(col("n11"), col("n10"), col("n01"), col("n00"),
                r4((col("n11") + col("n00")).cast("double") / col("nn"))
                  .as("po"),
                r4(col("pe_num").cast("double") / (col("nn") * col("nn")))
                  .as("pe"),
                r4((col("nn") * (col("n11") + col("n00")) - col("pe_num"))
                     .cast("double") /
                   (col("nn") * col("nn") - col("pe_num"))).as("kappa")),
      col("n11"))
  }

  /** q_item_cf — item-item collaborative filtering over order baskets:
    * cosine similarity between brands on their binary basket vectors
    * (cos = co/√(n_a·n_b)) and each brand's top-3 neighbors — the
    * "customers also bought" recommender built on q_market_basket's
    * co-occurrence frame, completing it with the normalized-similarity
    * ranking an actual recommender serves.
    *
    * Determinism: co/n_a/n_b are exact ints; √ is IEEE-correctly-rounded
    * on both engines; the neighbor rank orders by ROUNDED cosine with
    * the neighbor brand as tie-break (§2.10's ranking rule).
    *
    * Scale shape: one distinct (order, brand) shuffle; the pair join is
    * co-partitioned on the order key with fan-out bounded by distinct
    * brands per basket; ranking is a per-brand window over the ≤|brands|²
    * pair frame. The basket frame is persisted once for the
    * three consumers (counts + both join sides). */
  def itemCf(s: SparkSession, d: String): DataFrame = {
    // reads the published ingest-time basket store (AffinityOps) — the
    // fact join + distinct never re-runs per report
    val ob = AffinityOps.basketStore(s, d).shared
    val bc = ob.groupBy(col("b")).agg(count(lit(1)).as("nb"))
    // both directions so every brand ranks its own neighbor list
    val pairs = ob.as("x")
      .join(ob.as("y"), col("x.ok") === col("y.ok") &&
                        col("x.b") =!= col("y.b"))
      .groupBy(col("x.b").as("brand"), col("y.b").as("neighbor"))
      .agg(count(lit(1)).as("co"))
    val sims = pairs
      .join(broadcast(bc.select(col("b").as("brand"), col("nb").as("n_a"))),
            "brand")
      .join(broadcast(bc.select(col("b").as("neighbor"), col("nb").as("n_b"))),
            "neighbor")
      .withColumn("cosine",
        r4(col("co").cast("double") /
           sqrt((col("n_a") * col("n_b")).cast("double"))))
    val w = Window.partitionBy(col("brand"))
      .orderBy(col("cosine").desc, col("neighbor"))
    ord(
      sims.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("brand"), col("rk"), col("neighbor"), col("co"),
                col("cosine")),
      col("brand"), col("rk"))
  }

  /** q_rank_corr — did the brand leaderboard shuffle? Kendall τ-a and
    * Spearman ρ between the brand-revenue rankings of the first and
    * second half of the order history — THE stability readout for any
    * ranked report (a τ near 1 means last period's ranking still
    * holds; near 0 means re-rank everything).
    *
    * Determinism: period split by exact-integer midpoint (the
    * q_mix_shift rule); per-half ranks use a unique (cents DESC,
    * brand) tiebreak so there are NO rank ties and τ-a is exact;
    * concordant/discordant counts and Σd² are pure int64, one division
    * each.
    *
    * Scale shape: one fact-scale rollup to (brand, half) cents; ranks
    * are windows over the |brands| frame; the pair comparison is a
    * broadcast self-join bounded by |brands|². */
  def rankCorr(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
    val b = li.agg(min(epochSec(col("l_shipdate"))).as("mn"),
                   max(epochSec(col("l_shipdate"))).as("mx"))
    val byHalf = li.crossJoin(broadcast(b))
      .withColumn("h",
        when(epochSec(col("l_shipdate")) * 2 < col("mn") + col("mx"), 1)
          .otherwise(2))
      .groupBy(col("p_brand").as("brand"), col("h"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
             .as("cents"))
    val w1 = Window.partitionBy(col("h"))
      .orderBy(col("cents").desc, col("brand"))
    val ranked = byHalf.withColumn("r", row_number().over(w1).cast("long"))
    val r1 = ranked.filter(col("h") === 1)
      .select(col("brand"), col("r").as("r1"))
    val r2 = ranked.filter(col("h") === 2)
      .select(col("brand"), col("r").as("r2"))
    val both = r1.join(r2, "brand").shared
    val pairs = both.as("x")
      .join(broadcast(both.as("y")), col("x.brand") < col("y.brand"))
      .agg(sum(when((col("x.r1") < col("y.r1")) === (col("x.r2") < col("y.r2")),
                    1L).otherwise(0L)).as("concordant"),
           sum(when((col("x.r1") < col("y.r1")) === (col("x.r2") < col("y.r2")),
                    0L).otherwise(1L)).as("discordant"))
    val sd = both.agg(count(lit(1)).as("k"),
                      sum((col("r1") - col("r2")) * (col("r1") - col("r2")))
                        .as("d2"))
    ord(
      pairs.crossJoin(broadcast(sd))
        .select(col("k"), col("concordant"), col("discordant"),
          r4((col("concordant") - col("discordant")).cast("double") /
             (col("concordant") + col("discordant"))).as("kendall_tau"),
          r4(lit(1.0) - lit(6.0) * col("d2") /
             (col("k") * (col("k") * col("k") - 1L))).as("spearman_rho")),
      col("k"))
  }

  /** q_target_encoding — smoothed mean target encoding of the
    * (segment, priority) category cells against order value: enc =
    * (Σy_cell + m·μ_global)/(n_cell + m) with m = 20 — THE standard
    * categorical-feature encoder for tree/linear models, where the
    * smoothing keeps rare cells from memorizing their own noise. Emits
    * raw cell mean, smoothed encoding, and the shrink weight so a
    * feature review can see how hard each cell was pulled to the prior.
    *
    * Determinism: cell sums/counts are exact int64; μ_global rides a
    * 1-row broadcast; the encoding is ONE identically-spelled IEEE
    * chain from those ints, r4'd once (the q_survival rule).
    *
    * Scale shape: one fact-scale orders⋈customer join co-partitioned on
    * custkey, ONE partial-aggregable (segment, priority) shuffle, scalar
    * math on the ≤|segments|·|priorities| frame. */
  def targetEncoding(s: SparkSession, d: String): DataFrame = {
    val m = 20
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
              col("o_orderpriority").as("priority"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
    val cells = o.groupBy(col("segment"), col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
    val tot = o.agg(count(lit(1)).as("tn"), sum(col("cents")).as("ts"))
    ord(
      cells.crossJoin(broadcast(tot))
        .select(col("segment"), col("priority"), col("n"),
          r4(col("sc").cast("double") / col("n") / 100.0).as("raw_mean"),
          r4((col("sc").cast("double") / 100.0 +
              lit(m.toDouble) *
                (col("ts").cast("double") / col("tn") / 100.0)) /
             (col("n") + lit(m.toLong))).as("encoding"),
          r4(lit(m.toDouble) / (col("n") + lit(m.toLong))).as("shrink")),
      col("segment"), col("priority"))
  }

  /** q_zscore_scale — per-group feature standardization: for every
    * document, the z-score AND min-max scaling of its length within
    * its language — the two normalizations every feature pipeline
    * applies before training (per-group, because length distributions
    * differ by language; a global scale would encode language, not
    * quality).
    *
    * Determinism: group moments are exact int64 sums (n, Σx, Σx²,
    * min, max), and both scalings are algebraically rearranged so
    * each is ONE division of integer-derived terms:
    * z = (n·x − Σx)/√(n·Σx² − (Σx)²) and mm = (x − min)/(max − min)
    * — the identically-spelled-chain rule (÷ and √ are correctly
    * rounded, so same inputs ⇒ same bits). Degenerate groups
    * (zero variance / zero range) yield NULL via nullif.
    *
    * Int64 overflow CLOSED (r12 verdict ask #4, superseding the r11
    * documented headroom): the moments Σx and Σx² accumulate in
    * decimal(38,0) — exact integer arithmetic to 10³⁸, matching
    * DuckDB's HUGEINT widening — so n·Σx² and (Σx)² are computed
    * EXACTLY on both engines far past the old n·L < 3.0e9 int64
    * bound (a group needs n·L > 10¹⁹, impossible for int inputs,
    * before decimal(38,0) could overflow — and there Spark nulls
    * rather than wraps). Within the old headroom the decimal values
    * are the same exact integers the long path produced, cast to
    * double at the same point ⇒ bit-identical results (gated at all
    * three SFs); past it, OperatorEdgeSpec injects an over-headroom
    * group and asserts the z-scores equal the BigInt-exact values
    * instead of a silent wrap. Decimal aggregation leaves
    * whole-stage codegen for this rollup (ObjectHashAggregate-free,
    * still partial-aggregable) — the |langs|-row frame makes that
    * cost invisible.
    *
    * Scale shape: one partial-aggregable rollup to |langs| rows,
    * broadcast back onto the scan — an embarrassingly parallel
    * map-side join; no window, no shuffle of the fact rows. */
  def zscoreScale(s: SparkSession, d: String): DataFrame =
    zscoreScaleOn(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars")))

  /** Operator body over any (doc_id, lang, n_chars) frame — split out
    * so OperatorEdgeSpec can inject a past-int64-headroom group. */
  def zscoreScaleOn(docs: DataFrame): DataFrame = {
    val xd = col("n_chars").cast("decimal(18,0)")
    val stats = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(xd).as("s1"),
           sum(xd * xd).as("s2"),
           min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    Fin.ord(
      docs.join(broadcast(stats), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          r4((col("n").cast("decimal(20,0)") * col("n_chars") - col("s1"))
               .cast("double") /
             sqrt(nullif((col("n") * col("s2") - col("s1") * col("s1"))
                           .cast("double"), lit(0.0)))).as("z"),
          r4((col("n_chars") - col("mn")).cast("double") /
             nullif((col("mx") - col("mn")).cast("double"), lit(0.0)))
            .as("mm")),
      col("doc_id"))
  }

  /** q_robust_scale — the ROBUST twin of [[zscoreScale]]: per document,
    * (length − median)/IQR within its language — the scaler a feature
    * pipeline switches to when outliers poison mean/σ (one 10 MB
    * pathological doc shifts z-scores corpus-wide; the median/IQR
    * don't move).
    *
    * Determinism: n_chars is int; the quantile positions .25/.5/.75
    * are DYADIC, so linear interpolation over sorted ints is exact in
    * doubles on both engines (percentile ↔ quantile_cont, the
    * q_winsorize chain); the scaling is ONE identically-spelled
    * division with nullif guarding IQR = 0.
    *
    * Scale shape: one rollup to |langs| quantile rows (exact
    * percentile needs the sorted group — at 100 TB approx_percentile
    * replaces it, the documented q_percentile_approx path), broadcast
    * back onto the scan; no window, no fact shuffle. */
  def robustScale(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val q = docs.groupBy(col("lang"))
      .agg(percentile(col("n_chars"), lit(0.25)).as("q25"),
           percentile(col("n_chars"), lit(0.5)).as("med"),
           percentile(col("n_chars"), lit(0.75)).as("q75"))
    Fin.ord(
      docs.join(broadcast(q), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          r4(col("med")).as("med"),
          r4(col("q75") - col("q25")).as("iqr"),
          r4((col("n_chars") - col("med")) /
             nullif(col("q75") - col("q25"), lit(0.0))).as("rs")),
      col("doc_id"))
  }

  /** q_mcnemar — McNemar's paired test for "is detector A better than
    * detector B on the SAME documents": two deterministic is-English
    * detectors (A: vowel ratio > 0.32 — the q_lang_id heuristic's en
    * band floor; B: contains " the "), ground truth lang = 'en'. The
    * discordant counts b (A right, B wrong) and c (B right, A wrong)
    * carry ALL the evidence — the concordant majority cancels — so the
    * statistic (b−c)²/(b+c) (plus the continuity-corrected form) is
    * what a paired accuracy comparison actually needs, where two
    * independent accuracy CIs would overlap uselessly. Completes the
    * rater-agreement family (q_cohens_kappa measures agreement; this
    * tests DIFFERENCE).
    *
    * Determinism: both detectors are exact integer comparisons
    * (vowels·100 > nchars·32 cross-multiplied — no double ratio;
    * substring containment); all four cell counts exact int64; the
    * two statistics and two accuracies are identically-spelled single
    * chains r4'd, nullif on b+c = 0.
    *
    * Scale shape: ONE partial-aggregable full-corpus rollup (four
    * conditional counts in one pass) — no shuffle beyond the 1-row
    * aggregate, no window, scan stays pruned to (text, lang, n_chars). */
  def mcnemar(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nchars = length(col("text")).cast("long")
    val vowels = nchars -
      length(regexp_replace(col("text"), "[aeiou]", "")).cast("long")
    val predA = vowels * lit(100L) > nchars * lit(32L)
    val predB = instr(col("text"), " the ") > 0
    val truth = col("lang") === "en"
    val okA = predA === truth
    val okB = predB === truth
    val m = docs.agg(count(lit(1)).as("n"),
      sum(when(okA, 1L).otherwise(0L)).as("n_a_ok"),
      sum(when(okB, 1L).otherwise(0L)).as("n_b_ok"),
      sum(when(okA && !okB, 1L).otherwise(0L)).as("b"),
      sum(when(!okA && okB, 1L).otherwise(0L)).as("c"))
    val bd = col("b").cast("double")
    val cd = col("c").cast("double")
    ord(
      m.select(col("n").as("n_docs"),
        r4(col("n_a_ok").cast("double") / col("n")).as("acc_a"),
        r4(col("n_b_ok").cast("double") / col("n")).as("acc_b"),
        col("b").as("a_only_right"), col("c").as("b_only_right"),
        r4((bd - cd) * (bd - cd) /
           nullif(bd + cd, lit(0.0))).as("chi2"),
        r4(greatest(abs(bd - cd) - lit(1.0), lit(0.0)) *
           greatest(abs(bd - cd) - lit(1.0), lit(0.0)) /
           nullif(bd + cd, lit(0.0))).as("chi2_cc")),
      col("n_docs"))
  }

  /** q_fleiss_kappa — Fleiss' κ over THREE deterministic quality
    * raters on every document (R1: n_chars ≥ 200; R2: ≥ 40
    * whitespace tokens; R3: digit count·20 < n_chars), binary
    * good/bad: chance-corrected agreement for MORE than two raters —
    * the generalization q_cohens_kappa (2 raters) can't express. κ
    * near 0 says the gates fire on unrelated document populations
    * (each adds signal); κ near 1 says they're redundant — the
    * curation-pipeline readout for "do I need all three filters".
    *
    * Determinism: each rater is an exact integer comparison; with
    * k = 3 raters the per-doc agreement P_i = (g(g−1) + (3−g)(2−g))/6
    * has an EXACT int numerator, so ΣP_i rides a single int64 sum —
    * no per-doc double sum to order. P̄, p_good, P̄e and κ are one
    * identically-spelled double chain off three exact sums, r4'd,
    * nullif on 1−P̄e = 0.
    *
    * Scale shape: ONE partial-aggregable full-corpus rollup (three
    * sums in one pass); no window, no second shuffle. */
  def fleissKappa(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nchars = length(col("text")).cast("long")
    val digits = nchars -
      length(regexp_replace(col("text"), "[0-9]", "")).cast("long")
    val r1 = when(col("n_chars") >= 200L, 1L).otherwise(0L)
    val r2 = when(size(split(col("text"), " ")) >= 40, 1L).otherwise(0L)
    val r3 = when(digits * lit(20L) < nchars, 1L).otherwise(0L)
    val g = r1 + r2 + r3
    val m = docs
      .select(g.as("g"))
      .agg(count(lit(1)).as("n"),
           sum(col("g")).as("sg"),
           sum(col("g") * (col("g") - 1L) +
               (lit(3L) - col("g")) * (lit(2L) - col("g"))).as("sp"))
    val nD = col("n").cast("double")
    val pBar = col("sp").cast("double") / (lit(6.0) * nD)
    val pGood = col("sg").cast("double") / (lit(3.0) * nD)
    val pE = pGood * pGood + (lit(1.0) - pGood) * (lit(1.0) - pGood)
    ord(
      m.select(col("n").as("n_docs"), col("sg").as("n_good_votes"),
        r4(pBar).as("p_bar"), r4(pGood).as("p_good"), r4(pE).as("p_e"),
        r4((pBar - pE) / nullif(lit(1.0) - pE, lit(0.0))).as("kappa")),
      col("n_docs"))
  }

  /** q_cochran_q — Cochran's Q over the SAME three deterministic
    * quality raters as [[fleissKappa]]: do the three gates fire at the
    * same rate on the same documents? Q = (k−1)(k·ΣC_j² − T²) /
    * (kT − ΣR_i²) with k = 3 — the k-detector generalization of
    * [[mcnemar]] (which compares exactly two). κ (fleiss) answers "do
    * they AGREE"; Q answers "do they differ in MARGINAL rate" — a
    * curation pipeline wants both before dropping a filter. Only
    * mixed-vote documents (0 < g < 3) carry evidence, so that count
    * rides along.
    *
    * Determinism: each rater is an exact integer comparison; C_j, T,
    * and ΣR_i² are exact int64 in ONE partial-aggregable rollup; the
    * squares C_j² and T² accumulate in decimal(38,0) (the
    * q_jarque_bera idiom — C_j ≤ n overflows int64 squared past ~3e9
    * docs, DuckDB mirrors with HUGEINT); Q is one spelled chain,
    * nullif on the all-agree corpus (kT = ΣR_i²).
    *
    * Scale shape: ONE full-corpus rollup (five conditional sums in one
    * pass), no window, no second shuffle; scan pruned to
    * (text, n_chars). */
  def cochranQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nchars = length(col("text")).cast("long")
    val digits = nchars -
      length(regexp_replace(col("text"), "[0-9]", "")).cast("long")
    val r1 = when(col("n_chars") >= 200L, 1L).otherwise(0L)
    val r2 = when(size(split(col("text"), " ")) >= 40, 1L).otherwise(0L)
    val r3 = when(digits * lit(20L) < nchars, 1L).otherwise(0L)
    val g = r1 + r2 + r3
    val m = docs
      .select(r1.as("x1"), r2.as("x2"), r3.as("x3"), g.as("g"))
      .agg(count(lit(1)).as("n"),
           sum(col("x1")).as("c1"), sum(col("x2")).as("c2"),
           sum(col("x3")).as("c3"),
           sum(col("g") * col("g")).as("sg2"),
           sum(when(col("g") > 0L && col("g") < 3L, 1L).otherwise(0L))
             .as("n_mixed"))
    val t = col("c1") + col("c2") + col("c3")
    val num = (lit(3L).cast("decimal(38,0)") *
                 (dec(col("c1")) * dec(col("c1")) +
                  dec(col("c2")) * dec(col("c2")) +
                  dec(col("c3")) * dec(col("c3"))) -
               dec(t) * dec(t)).cast("decimal(38,0)")
    ord(
      m.select(col("n").as("n_docs"), col("n_mixed"),
        r4(col("c1").cast("double") / col("n")).as("rate_len"),
        r4(col("c2").cast("double") / col("n")).as("rate_tokens"),
        r4(col("c3").cast("double") / col("n")).as("rate_digit"),
        r4(lit(2.0) * num.cast("double") /
           nullif((lit(3L) * t - col("sg2")).cast("double"), lit(0.0)))
          .as("q_stat")),
      col("n_docs"))
  }
}
