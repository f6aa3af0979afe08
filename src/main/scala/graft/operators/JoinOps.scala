package graft.operators

import graft.{Fin, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Every required join flavor (SURVEY.md §2.3).
  *
  * Scale notes (100 TB):
  *  - fact⋈fact joins (orders⋈lineitem) shuffle on the join key — at
  *    scale both sides would be bucketed on the key so the shuffle is
  *    avoided entirely; AQE handles skew (OptimizeSkewedJoin).
  *  - dimension joins are pinned to broadcast (`broadcast()` hint) — a
  *    1000-executor cluster ships the dim once per executor, no shuffle.
  *  - the range/theta joins keep an equi key (user_id / brand) so Spark
  *    plans a shuffled equi-join with a residual inequality filter, NOT a
  *    cartesian product — the only formulation that survives 100×.
  */
object JoinOps {
  import Fin._

  /** q_join_inner — shuffle equi-join on custkey, revenue per segment. */
  def joinInner(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    ord(
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(r4(sum(col("o_totalprice"))).as("revenue"), count(lit(1)).as("n_orders")),
      col("c_mktsegment"))
  }

  /** q_join_broadcast — fact ⋈ two broadcast dims, no fact shuffle
    * before the aggregation. */
  def joinBroadcast(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    val sup = Tables.supplier(s, d)
    ord(
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("p_brand"))
        .agg(r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue")),
      col("p_brand"))
  }

  /** q_join_multiway — TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem with
    * selective filters on both ends, top-10 orders by revenue. */
  def joinMultiway(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q_join_left — dimensions without facts must survive (GA reports
    * show zero-hit dimensions). */
  def joinLeft(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    ord(
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             r4(coalesce(sum(col("o_totalprice")), lit(0.0))).as("total")),
      col("c_custkey"))
  }

  /** q_join_full — full outer with both-null accounting. */
  def joinFull(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val o = Tables.orders(s, d).select(col("o_custkey")).distinct()
    val j = c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
    ord(
      j.select(
          when(col("c_custkey").isNull, "order_only")
            .when(col("o_custkey").isNull, "cust_only")
            .otherwise("both").as("category"))
        .groupBy(col("category")).agg(count(lit(1)).as("n")),
      col("category"))
  }

  /** q_join_semi — EXISTS as left_semi (no row multiplication). */
  def joinSemi(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    ord(
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      col("c_custkey"))
  }

  /** q_join_anti — NOT EXISTS as left_anti. */
  def joinAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    ord(
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      col("c_custkey"))
  }

  /** q_join_range — attribution-window self-join: pairs of events of the
    * same user within (t, t+1h].
    *
    * The join key is (user_id, hour_bucket), not bare user_id: a raw
    * user_id equi-join gives a power user with 10⁶ events ~10¹²
    * candidate pairs before the residual filter. Bucketing time into
    * 1-hour cells and probing each left row against its own and the next
    * cell (left side exploded ×2) bounds candidates to events actually
    * within ±1h of each other — any (t1, t2] pair with t2 ≤ t1+1h has
    * bucket(t2) ∈ {bucket(t1), bucket(t1)+1}, and the two probe keys are
    * distinct so no pair is double-counted. Same answer, same oracle. */
  def joinRange(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val hb1 = floor(col("ts1").cast("long") / 3600)
    val e1 = e.select(col("user_id"), col("ts").as("ts1"))
      .withColumn("hb", explode(array(hb1, hb1 + 1)))
    val e2 = e.select(col("user_id").as("user_id2"), col("ts").as("ts2"))
      .withColumn("hb2", floor(col("ts2").cast("long") / 3600))
    ord(
      e1.join(e2,
          e1("user_id") === e2("user_id2") &&
          col("hb") === col("hb2") &&
          e2("ts2") > e1("ts1") &&
          e2("ts2") <= e1("ts1") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs")),
      col("user_id"))
  }

  /** q_join_asof — last-touch attribution: for each purchase, the
    * immediately preceding event (strictly earlier) of the same user.
    *
    * Spark has no native as-of join; the scalable formulation is a single
    * window pass over (user_id) ordered by (ts, event_id) — one shuffle
    * on user_id, no self-join. Strictness: `lag(1)` = latest event with
    * (ts, event_id) strictly before the current row, matching the
    * oracle's identical LAG formulation (SURVEY.md §7.2 item 2).
    */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ord(
      e.select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
               lag(col("event_id"), 1).over(w).as("prev_event_id"),
               lag(col("event_type"), 1).over(w).as("prev_event_type"))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
                col("prev_event_id"), col("prev_event_type")),
      col("event_id"))
  }

  /** q_join_asof_stream — GENERAL two-stream as-of join (joinAsof's lag
    * trick only works when both sides are the same stream): for each
    * purchase, the latest STRICTLY-earlier click of the same user.
    *
    * Union-tag formulation: tag both streams, union, one window pass
    * per user ordered by (ts, side, id) with purchases sorting before
    * same-ts clicks (strict '<' semantics), then
    * `last(click_id, ignoreNulls)` over the preceding frame. ONE shuffle
    * on user_id and ZERO joins — the merge-pass shape that survives
    * 100 TB where a range-banded join would still pay candidate pairs.
    * Ties among clicks at the same ts resolve to max event_id
    * (deterministic; oracle mirrors the exact sort key). */
  def joinAsofStream(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
              col("event_id"), lit(null).cast("long").as("click_id"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
              lit(null).cast("long").as("event_id"),
              col("event_id").as("click_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), coalesce(col("click_id"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord(
      p.unionByName(c)
        .withColumn("prev_click", last(col("click_id"), ignoreNulls = true).over(w))
        .filter(col("side") === 0)
        .select(col("event_id"), col("user_id"), col("prev_click")),
      col("event_id"))
  }

  /** q_join_asof_tol — TOLERANCE-bounded as-of join: [[joinAsofStream]]
    * (latest strictly-earlier click per purchase) plus the staleness
    * rule every production point-in-time join carries (pandas
    * merge_asof's `tolerance`, kdb wj's window): a match older than
    * 1 hour is DISCARDED and the purchase keeps a NULL click — a
    * 3-day-old click is not "the touch that drove this purchase".
    * Left-join semantics: every purchase row survives.
    *
    * Same union-tag merge pass as joinAsofStream — ONE shuffle on
    * user_id, ZERO joins; the second `last(ignoreNulls)` rides the
    * SAME window (both pick from the same last-click row, since the
    * null patterns of click_id and c_us are identical by
    * construction). The gap and the 3.6e9 µs cutoff are exact int64.
    * Ties among same-ts clicks resolve to max event_id (the frame's
    * last row; oracle mirrors the exact sort key). */
  def joinAsofTol(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
              col("event_id"), lit(null).cast("long").as("click_id"),
              lit(null).cast("long").as("c_us"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
              lit(null).cast("long").as("event_id"),
              col("event_id").as("click_id"),
              expr("unix_micros(ts)").as("c_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), coalesce(col("click_id"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tolUs = 3600L * 1000000L
    ord(
      p.unionByName(c)
        .withColumn("prev_click", last(col("click_id"), ignoreNulls = true).over(w))
        .withColumn("prev_us", last(col("c_us"), ignoreNulls = true).over(w))
        .filter(col("side") === 0)
        .withColumn("gap_us", expr("unix_micros(ts)") - col("prev_us"))
        .select(col("event_id"), col("user_id"),
                when(col("gap_us") <= tolUs, col("prev_click")).as("click_id"),
                when(col("gap_us") <= tolUs, col("gap_us")).as("gap_us")),
      col("event_id"))
  }

  /** q_join_asof_fwd — FORWARD as-of join, the mirror of
    * [[joinAsofStream]]: for each purchase, the EARLIEST strictly-later
    * click of the same user (the "next touch after conversion" join —
    * post-purchase behavior, re-engagement latency).
    *
    * Same union-tag merge pass, reflected: clicks tag side=0 so a
    * same-ts click sorts BEFORE the purchase and stays OUT of the
    * strictly-following frame ('>' semantics); `first(click_id,
    * ignoreNulls)` over (1 FOLLOWING, UNBOUNDED FOLLOWING). Still ONE
    * shuffle on user_id and ZERO joins. Ties among clicks at the same
    * ts resolve to min event_id (the frame's first row; oracle mirrors
    * the exact sort key). */
  def joinAsofFwd(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
              lit(null).cast("long").as("event_id"),
              col("event_id").as("click_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
              col("event_id"), lit(null).cast("long").as("click_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), coalesce(col("click_id"), col("event_id")))
      .rowsBetween(1, Window.unboundedFollowing)
    ord(
      c.unionByName(p)
        .withColumn("next_click", first(col("click_id"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"), col("next_click")),
      col("event_id"))
  }

  /** q_join_theta — same-brand part pairs with p1.p_size < p2.p_size.
    * Formulated as an equi-join on brand + residual inequality (NOT a
    * nested-loop over the cross product) so it scales with per-brand
    * group size, not |part|². */
  def joinTheta(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val p1 = p.select(col("p_brand"), col("p_size").as("size1"))
    val p2 = p.select(col("p_brand").as("brand2"), col("p_size").as("size2"))
    ord(
      p1.join(p2, p1("p_brand") === p2("brand2") && col("size1") < col("size2"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_pairs")),
      col("p_brand"))
  }

  /** Bloom sizing bounds for [[joinBloom]]: ~10 bits/key ≈ 1% false
    * positives, clamped so the literal shipped to every task stays
    * ≤ 1 MiB no matter what the dim count() measures. */
  private val BloomBitsPerKey = 10L
  private val BloomMaxBits = 1L << 23

  /** q_join_bloom — fact-scan pruning via an explicit bloom runtime
    * filter: urgent-order revenue by return flag, with the lineitem
    * scan pre-filtered by a bloom sketch of the urgent orderkeys
    * BEFORE the exact join. Result ≡ the plain join (bloom filters
    * have no false negatives; false positives are removed by the join
    * itself), so the oracle is the unadorned join SQL — the sketch can
    * only change cost, never rows.
    *
    * Scale shape: this is AQE InjectRuntimeFilter's own expression
    * pair ([[graft.functions.BloomExprs]]) applied by hand, for plans
    * the optimizer won't inject into. At 100 TB the urgent dim exceeds
    * the broadcast threshold, so the exact join shuffles BOTH sides —
    * the bloom probe drops non-matching fact rows at the scan (columnar
    * batch, before the exchange), shrinking the big side's shuffle by
    * the selectivity (~20% here). Build is one partial-aggregable pass
    * over the dim keys; the single-row `.head()` ships a bounded
    * O(num_bits) SKETCH to the driver (the approved scalar-read idiom —
    * never the keys), sized from the measured dim count at
    * [[BloomBitsPerKey]] bits/key and clamped to [[BloomMaxBits]]. */
  def joinBloom(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val items = math.max(1L, urgent.count())
    val bits = math.min(BloomMaxBits, math.max(1L << 10, items * BloomBitsPerKey))
    val sketch = urgent.agg(
      call_function("bloom_build", col("o_orderkey"), lit(items), lit(bits))
        .as("bf")).head().getAs[Array[Byte]](0)
    val li = Tables.lineitem(s, d)
      .filter(call_function("bloom_might_contain", lit(sketch), col("l_orderkey")))
    ord(
      li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
             r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
               .as("revenue")),
      col("l_returnflag"))
  }

  /** q_fuzzy_join — blocked fuzzy self-match on customer names
    * (entity-resolution's core primitive): within a COMPOUND
    * (nation, market segment) block, count candidate pairs whose
    * names are within Levenshtein distance 2 (and the ≤1 near-exact
    * subset), rolled up per nation. Blocking is what makes fuzzy
    * matching survive scale — the edit-distance predicate CANNOT be
    * an equi-join key, so without a block the join is a cartesian
    * product; the compound key is the standard multi-attribute
    * blocking step (candidates must agree on BOTH attributes), and it
    * bounds the per-block quadratic to |nation ∩ segment| — measured
    * here: nation-only blocking costs 7.6 s warm at sf0.1 (9M
    * candidate DPs), the compound block 10× less for the same
    * blocking-rule semantics.
    *
    * Determinism: Levenshtein distance is exact integer DP on both
    * engines (identical definitions); counts are integers.
    *
    * Perf notes baked into the shape:
    *  - the distance runs ONCE per unordered pair, through the
    *    THRESHOLDED form (banded O(n·k) DP with early exit, not the
    *    full O(n²) table) — `levenshtein(a, b, 2)` returns the exact
    *    distance when ≤ 2 and −1 past it, so `dist >= 0` is exactly
    *    the oracle's full-DP `levenshtein(a,b) <= 2`;
    *  - the probe side is explicitly repartitioned WITH a pinned
    *    partition count: a dim-sized scan arrives as one file split,
    *    and a column-only repartition gets coalesced back to ~1
    *    partition by AQE (the probe side is tiny in BYTES — but its
    *    JOIN FAN-OUT is quadratic, which AQE cannot see). The pinned
    *    count (REPARTITION_BY_NUM) is exempt from AQE coalescing, so
    *    the pair work actually spreads across the cluster (measured:
    *    2.6 s → sub-second warm at sf0.1). Any partitioning is
    *    correct against a broadcast build side. */
  def fuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
              col("c_mktsegment"))
    val a = c.select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
                     col("c_custkey").as("k1"), col("c_name").as("n1"))
    val b = c.select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
                     col("c_custkey").as("k2"), col("c_name").as("n2"))
    val dists = a.repartition(s.sparkContext.defaultParallelism, col("k1"))
      .join(broadcast(b), Seq("nk", "seg"))
      .filter(col("k1") < col("k2"))
      .select(col("nk"), levenshtein(col("n1"), col("n2"), 2).as("dist"))
      .filter(col("dist") >= 0)
    ord(
      dists.groupBy(col("nk").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
             sum(when(col("dist") <= 1, 1L).otherwise(0L)).as("n_close"),
             min(col("dist")).as("min_dist")),
      col("nationkey"))
  }
}
