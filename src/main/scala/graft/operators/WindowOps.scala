package graft.operators

import graft.{Fin, Tables}
import graft.Iter.IterOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions, sessionization, time-bucketed windows
  * (SURVEY.md §2.5, §2.9 batch forms).
  *
  * Scale notes (100 TB): every window here partitions by a real key
  * (customer / user / event_type) — one shuffle on the partition key,
  * then a per-partition sort; no global windows (a `Window.orderBy`
  * without partitionBy would serialize the world onto one task and is
  * banned engine-wide). Sessionization is the flagship GA semantic:
  * a single shuffle on user_id + linear scan per user — the same shape
  * Structured Streaming's session_window uses incrementally
  * (graft.streaming.StreamingOps).
  */
object WindowOps {
  import Fin._

  /** q_window_rank — row_number/rank/dense_rank per customer, top-1 by
    * totalprice (tie-broken on o_orderkey so the hash-compare is stable). */
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord(
      o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
               row_number().over(w).as("rn"),
               rank().over(w).as("rk"),
               dense_rank().over(w).as("drk"))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
                col("rn"), col("rk"), col("drk")),
      col("o_custkey"))
  }

  /** q_window_running — running sum + 3-row moving average per customer
    * (GA cumulative metrics). */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    ord(
      o.select(col("o_custkey"), col("o_orderkey"),
               r4(sum(col("o_totalprice"))
                 .over(w.rowsBetween(Window.unboundedPreceding, 0))).as("running"),
               r4(avg(col("o_totalprice"))
                 .over(w.rowsBetween(-2, 0))).as("mavg3")),
      col("o_custkey"), col("o_orderkey"))
  }

  /** q_window_range_frame — RANGE frame of 1 day preceding, ordered by
    * integral epoch seconds for cross-engine frame parity. */
  def windowRangeFrame(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_sec"))
      .rangeBetween(-86400, 0)
    ord(
      e.select(col("event_id"), col("event_type"), col("value"),
               epochSec(col("ts")).as("ts_sec"))
        .select(col("event_id"), r4(sum(col("value")).over(w)).as("day_sum")),
      col("event_id"))
  }

  /** q_window_lag — gap to previous event + next event type per user
    * (the sessionization input signal). */
  def windowLag(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ord(
      e.select(col("event_id"), col("user_id"), col("ts"),
               epochSec(col("ts")).as("ts_sec"), col("event_type"))
        .withColumn("gap_sec", col("ts_sec") - lag(col("ts_sec"), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("gap_sec"), col("next_type")),
      col("event_id"))
  }

  /** q_topk_per_group — top-3 parts by revenue within each brand.
    * Ordering uses the ROUNDED revenue (both engines agree to 4dp) with
    * p_partkey tie-break, so ulp-level sum differences can't flip ranks.
    *
    * Implemented with the native `top_k_pairs` TypedImperativeAggregate
    * (graft.functions.TopKAggregate), not a window: the window form
    * shuffles and fully sorts EVERY (brand, part) row; the aggregate is
    * partial-mergeable, so each map task ships at most k rows per brand
    * and nothing is ever sorted — the only formulation that stays flat
    * at 100 TB. TopKAggregateSpec proves it row-identical to the window
    * form under adversarial repartitioning. */
  def topkPerGroup(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    val rev = li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
    ord(
      rev.groupBy(col("p_brand"))
        .agg(call_function("top_k_pairs",
          col("revenue"), col("p_partkey"), lit(3)).as("tk"))
        .select(col("p_brand"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("p_brand"), col("e.id").as("p_partkey"),
                col("e.value").as("revenue"),
                (col("pos") + 1).cast("int").as("rn")),
      col("p_brand"), col("rn"))
  }

  /** The sessionization computation itself: 30-min-inactivity session
    * ids per user (gap > 1800s strict starts a new session; sid =
    * running count of session-start flags). One shuffle on user_id, two
    * window passes over the same (ts, event_id) sort — linear at any
    * scale. */
  private def sessionizeScan(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("ts_sec"),
              col("ts"), col("event_type"), col("value"))
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") > 1800, 1)
          .otherwise(0))
      .withColumn("sid",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  // v2: the store became a user-bucketed table — the tag bump retires
  // v1 caches (unbucketed files must never be registered CLUSTERED BY).
  // v3 (r12): day partitioning layered over the user bucketing — the
  // tag bump retires v2 caches (flat dirs must never be registered
  // PARTITIONED BY).
  private val SessionStoreTag = "session_store_v3"

  /** Build-once sessionized event store, persisted as a USER-BUCKETED
    * table via [[graft.sources.BucketedStore]] (CachedDir fingerprint +
    * ATOMIC_MOVE, plus hash-clustered layout): the two window passes
    * over the raw events run ONCE per corpus state; every session
    * aggregate or window then reads the store WITHOUT an exchange —
    * HashPartitioning(user_id) satisfies a ClusteredDistribution on
    * (user_id, ...). A JOIN back to the store is the exception: it
    * needs clustering on all its keys (see [[attributionLinear]]).
    * This is the reference engine's defining materialization — GA
    * events are sessionized once into a warehouse table and every
    * report derives from it — with the 100 TB layout built:
    * user-bucketed AND day-partitioned. Day partitioning prunes the
    * listing for date-ranged reports ([[sessionReportDated]] shows
    * PartitionFilters in its scan) while the bucket spec keeps every
    * per-user consumer exchange-free; `day` is the EVENT's day (a
    * session crossing midnight spans two partitions — date-ranged
    * consumers see exactly the events in range, the window-total
    * semantics a dated report wants). */
  def sessionStore(s: SparkSession, d: String): String =
    graft.sources.BucketedStore.table(
        s, d, "events.parquet", SessionStoreTag, "user_id",
        partitionCol = Some("day")) {
        sessionizeScan(s, d)
          .select(col("user_id"), col("sid"), col("event_id"), col("ts"),
                  col("ts_sec"), col("event_type"), col("value"),
                  to_date(col("ts")).as("day"))
    }

  /** The persisted session store: one row per event (user_id, sid,
    * event_id, ts, ts_sec, event_type, value, day). Consumers read the
    * columns they use; the parquet scan reads only those. */
  private def sessionized(s: SparkSession, d: String): DataFrame =
    s.table(sessionStore(s, d))

  /** The session grain: one row per (user_id, sid) of `store` carrying
    * every per-session measure the session reports read, each defined
    * here once —
    *  - `start_sec`, `end_sec`, `n_events` and the raw `value_sum`;
    *  - `landing_type` / `exit_type`: the event type at the min / max
    *    of the (ts, event_id) struct (`first_k` / `last_k`), a total
    *    order, so equal-ts ties resolve the same in every engine;
    *  - `types`, the distinct event types (bounded by the vocabulary);
    *  - `rev`, the RAW purchase revenue (reports round once, at their
    *    rollup), `n_purch`, and the 0/1 flags `clicked` / `purchased`.
    *
    * The rule every consumer relies on: select the measures you read
    * from this lazy frame, never persist it. Catalyst's column pruning
    * then drops every aggregate expression no consumer reads (a
    * page-depth rollup plans as `count(1)` alone, with no
    * `collect_set`, `min_by` or `max_by`; PlanSpec pins it), and the
    * aggregate needs no exchange: the store's user bucketing satisfies
    * the (user_id, sid) clustering. `store` is the store frame or a
    * filtered view of it (q_session_report_dated's week). */
  private def perSession(store: DataFrame): DataFrame = {
    val k = struct(col("ts"), col("event_id"))
    val purchase = col("event_type") === "purchase"
    store.groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_sec")).as("start_sec"),
           max(col("ts_sec")).as("end_sec"),
           count(lit(1)).as("n_events"),
           sum(col("value")).as("value_sum"),
           min_by(col("event_type"), k).as("landing_type"),
           max_by(col("event_type"), k).as("exit_type"),
           min(k).as("first_k"),
           max(k).as("last_k"),
           collect_set(col("event_type")).as("types"),
           sum(when(purchase, col("value")).otherwise(lit(0.0))).as("rev"),
           sum(when(purchase, 1L).otherwise(0L)).as("n_purch"),
           max(when(col("event_type") === "click", 1L).otherwise(0L))
             .as("clicked"),
           max(when(purchase, 1L).otherwise(0L)).as("purchased"))
  }

  /** In-session transition counts (cur_type, next_type, n): each event
    * paired with the next one of its session in (ts, event_id) order,
    * so transitions never cross sessions. The `lead` window needs no
    * exchange on the store's user bucketing. */
  private def transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    sessionized(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** q_sessionize — FLAGSHIP #2: 30-min-inactivity sessions per user;
    * per session: start, end, event count, summed value. */
  def sessionize(s: SparkSession, d: String): DataFrame =
    ord(
      perSession(sessionized(s, d))
        .select(col("user_id"), col("sid"), col("start_sec"), col("end_sec"),
                col("n_events"), r4(col("value_sum")).as("session_value")),
      col("user_id"), col("sid"))

  /** q_session_report_dated — the date-ranged session report (r12, the
    * r11 verdict ask): per-session activity WITHIN a one-week window
    * (2024-01-10..16) — event count, first/last second, summed value of
    * the in-range events. THE query that justifies the store's
    * production layout: the day filter lands in PartitionFilters (the
    * scan lists only 7 of 30 partition dirs — at 100 TB, only the
    * queried week of a years-deep store), and the (user, sid) rollup
    * still runs exchange-free on the bucket layout (PlanSpec asserts
    * both).
    *
    * Semantics: `day` is the EVENT day, so a session crossing the
    * window edge contributes exactly its in-range events (window-total
    * reporting, the GA date-range convention). sid comes from the
    * store, computed over the FULL timeline — the range restricts
    * reporting, never re-sessionizes.
    *
    * Determinism: integer seconds/counts, one r4'd value sum, total
    * order on (user_id, sid). */
  def sessionReportDated(s: SparkSession, d: String): DataFrame = {
    val week = sessionized(s, d)
      .filter(col("day").between(lit("2024-01-10").cast("date"),
                                 lit("2024-01-16").cast("date")))
    ord(
      perSession(week)
        .select(col("user_id"), col("sid"), col("start_sec"), col("end_sec"),
                col("n_events"), r4(col("value_sum")).as("window_value")),
      col("user_id"), col("sid"))
  }

  /** q_session_duration_hist — GA's session-duration report: sessions
    * bucketed by duration in 5-minute bins (bucket = ⌊dur/300 s⌋),
    * with each bin's session count and mean event count —
    * q_page_depth histograms DEPTH, this histograms TIME, together
    * the two engagement axes.
    *
    * Determinism: durations exact integer seconds from the store; the
    * bucket is integer division; the mean divides two exact ints once,
    * r4'd. */
  def sessionDurationHist(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d))
        .select((col("end_sec") - col("start_sec")).as("dur_sec"),
                col("n_events"))
        .groupBy(expr("dur_sec DIV 300").as("bucket"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(col("n_events")).as("ev_sum"))
        .select(col("bucket"), (col("bucket") * 300).as("from_sec"),
                col("n_sessions"),
                r4(col("ev_sum").cast("double") / col("n_sessions"))
                  .as("avg_events")),
      col("bucket"))
  }

  /** q_session_cooc — within-session event-type CO-OCCURRENCE: for
    * every unordered type pair, how many sessions contain BOTH, with
    * lift vs independence — q_markov counts ordered TRANSITIONS; this
    * answers "which behaviors live in the same visit regardless of
    * order", the session-level twin of q_market_basket.
    *
    * Determinism: exact integer session counts; lift divides exact
    * ints by exact ints in one identically-spelled chain
    * (n_both·n_sessions / (n_a·n_b)), r4'd.
    *
    * Scale shape: the distinct (user, sid, type) collapse is
    * exchange-free on the store's bucket layout; the pair join is
    * CO-PARTITIONED on (user, sid) with fan-out ≤ |types| per session; per-type session counts and the
    * ≤|types|² output frame ride broadcasts. */
  def sessionCooc(s: SparkSession, d: String): DataFrame = {
    val st = sessionized(s, d)
      .select(col("user_id"), col("sid"), col("event_type").as("t"))
      .distinct()
      .shared
    val nSess = st.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val sizes = st.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val both = st.as("x").join(st.as("y"),
        col("x.user_id") === col("y.user_id") &&
        col("x.sid") === col("y.sid") && col("x.t") < col("y.t"))
      .groupBy(col("x.t").as("type_a"), col("y.t").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    ord(
      both
        .join(broadcast(sizes.select(col("t").as("type_a"), col("n").as("n_a"))),
              "type_a")
        .join(broadcast(sizes.select(col("t").as("type_b"), col("n").as("n_b"))),
              "type_b")
        .crossJoin(broadcast(nSess))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
                col("n_both"),
                r4(col("n_both").cast("double") * col("n_sessions") /
                   (col("n_a") * col("n_b"))).as("lift")),
      col("type_a"), col("type_b"))
  }

  /** q_cart_abandonment — GA's abandonment report on this schema's
    * proxy funnel: per session-START day, the share of sessions that
    * CLICKED (intent) but never PURCHASED — the daily
    * conversion-leak trend (q_funnel measures the user-level funnel
    * once; this tracks the session-level leak day by day).
    *
    * Determinism: per-session flags are exact bool aggregates over
    * the store; the start day is the session's min event second
    * (exact int) floored to a day; ONE r4'd rate per day. */
  def cartAbandonment(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d))
        .select(col("start_sec"), col("clicked"), col("purchased"))
        .filter(col("clicked") === 1L)
        .groupBy(expr("CAST(start_sec DIV 86400 AS INT)").as("day_num"))
        .agg(count(lit(1)).as("n_intent"),
             sum(lit(1L) - col("purchased")).as("n_abandoned"))
        .select(col("day_num"), col("n_intent"), col("n_abandoned"),
                r4(col("n_abandoned").cast("double") / col("n_intent"))
                  .as("abandonment_rate")),
      col("day_num"))
  }

  /** q_page_depth — GA's page-depth report: how many sessions contain
    * exactly N events. */
  def pageDepth(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d)).select(col("n_events").as("depth"))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_sessions")),
      col("depth"))
  }

  /** q_user_loyalty — GA's count-of-sessions (loyalty) report: users
    * bucketed by how many sessions they ran (≤55 / 56-65 / 66-75 /
    * 76+ — edges chosen to cut the synthetic corpus's 47-90 range;
    * production would configure its own), with
    * the session volume each bucket contributes. Same exchange-free
    * store read: sids are a per-user 1-based running index, so
    * max(sid) in ONE bucketed aggregate is the session count — no
    * countDistinct expand, nothing proportional to events crosses a
    * shuffle. */
  def userLoyalty(s: SparkSession, d: String): DataFrame = {
    ord(
      sessionized(s, d).groupBy(col("user_id"))
        .agg(max(col("sid")).as("n_sessions"))
        .withColumn("bucket",
          when(col("n_sessions") <= 55, "a_le55")
            .when(col("n_sessions") <= 65, "b_56_65")
            .when(col("n_sessions") <= 75, "c_66_75")
            .otherwise("d_76plus"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_users"),
             sum(col("n_sessions")).as("n_sessions")),
      col("bucket"))
  }

  /** q_session_paths — GA's landing/exit report: per session, the first
    * (landing) and last (exit) event type, rolled up to a count per
    * (landing, exit) pair — where journeys start and where they die
    * (the oracle's first_value/last_value over the same (ts, event_id)
    * order agrees). */
  def sessionPaths(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d))
        .groupBy(col("landing_type"), col("exit_type"))
        .agg(count(lit(1)).as("n_sessions")),
      col("landing_type"), col("exit_type"))
  }

  /** q_exit_rate — GA's exit-rate report: per event type, the number of
    * sessions that contain it, the number that END on it, and the exit
    * rate (exits / sessions containing — "how often is this page the
    * last thing a visitor does"). Exploding the session's distinct
    * type set replaces a distinct + co-partitioned join; the exit rate
    * divides two exact integer counts once — the hash-safe r4 pattern. */
  def exitRate(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d))
        .select(col("exit_type"), explode(col("types")).as("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(when(col("event_type") === col("exit_type"), 1L).otherwise(0L))
               .as("n_exits"))
        .withColumn("exit_rate",
          r4(col("n_exits").cast("double") / col("n_sessions"))),
      col("event_type"))
  }

  /** q_landing_bounce — GA's landing-page bounce report, keyed on the
    * session's ENTRY event type (the landing analog in this schema):
    * per landing type, session count, single-event-session count, and
    * bounce rate. Complements q_exit_rate (exit side) and
    * q_session_metrics (per-day bounce) — this is the per-entry-point
    * view marketers act on. The bounce ratio divides two exact integer
    * counts once — the hash-safe r4 pattern. */
  def landingBounce(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d))
        .groupBy(col("landing_type"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
        .withColumn("bounce_rate",
          r4(col("n_bounces").cast("double") / col("n_sessions"))),
      col("landing_type"))
  }

  /** q_session_metrics — the GA session rollup on top of the flagship
    * sessionization: per session-start day, session count, bounce rate
    * (single-event sessions), average duration and events per session.
    *
    * Determinism: every ratio divides two EXACT integer aggregates once
    * (integer sums are order-independent, so both engines divide
    * identical doubles — the safe r4 pattern; averaging already-rounded
    * doubles is not, see q_embedding_pq). Day = integer epoch-day
    * arithmetic — no timezone dependence. */
  def sessionMetrics(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d))
        .groupBy(date_add(lit("1970-01-01").cast("date"),
          expr("CAST(start_sec DIV 86400 AS INT)")).as("day"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(when(col("n_events") === 1, 1).otherwise(0)).as("nb"),
             sum(col("end_sec") - col("start_sec")).as("dur"),
             sum(col("n_events")).as("ev"))
        .select(col("day"), col("n_sessions"),
                r4(col("nb").cast("double") / col("n_sessions")).as("bounce_rate"),
                r4(col("dur").cast("double") / col("n_sessions")).as("avg_duration_sec"),
                r4(col("ev").cast("double") / col("n_sessions")).as("avg_events")),
      col("day"))
  }

  /** Lookback window for [[patternMatch]]'s view→purchase path (µs). */
  val PatternWindowUs: Long = 3600L * 1000000L

  /** q_pattern_match — MATCH_RECOGNIZE-class sequence pattern with an
    * EXCLUSION: classify every purchase by whether a `view` preceded it
    * within the hour (the path) and whether an `error` intervened
    * between that view and the purchase (the blocker). Per day:
    * purchases, clean / blocked / no_view counts, clean rate. The
    * behavioral question q_funnel's step counts can't answer — "did
    * something go wrong ON the path" — and the standard next ask of any
    * event-analytics surface (Flink CEP / MATCH_RECOGNIZE territory),
    * expressed with one running-max window instead of an NFA.
    *
    * Mechanics: a single ordered pass per user computes running maxima
    * of the last view / last error timestamps over the STRICTLY
    * PRECEDING frame (ties broken by event_id, mirrored in the oracle);
    * `last_error > last_view` then says an error sits inside the
    * (view, purchase) interval — no self-join, no per-pattern rescan.
    *
    * Scale shape: reads the user-bucketed session store, so the window
    * needs NO exchange (HashPartitioning(user_id) satisfies it); the
    * day rollup is one partial-aggregable shuffle of purchase rows
    * only. O(events) work, O(1) state per user — the same shape a
    * streaming CEP engine maintains incrementally. */
  def patternMatch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = sessionized(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("last_error",
        max(when(col("event_type") === "error", col("us"))).over(w))
    val p = marked.filter(col("event_type") === "purchase")
      .withColumn("status",
        when(col("last_view").isNull ||
             col("us") - col("last_view") > PatternWindowUs, "no_view")
          .when(col("last_error").isNotNull &&
                col("last_error") > col("last_view"), "blocked")
          .otherwise("clean"))
    ord(
      p.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_purchases"),
             sum(when(col("status") === "clean", 1L).otherwise(0L)).as("n_clean"),
             sum(when(col("status") === "blocked", 1L).otherwise(0L)).as("n_blocked"),
             sum(when(col("status") === "no_view", 1L).otherwise(0L)).as("n_no_view"))
        .withColumn("clean_rate",
          r4(col("n_clean").cast("double") / col("n_purchases"))),
      col("day"))
  }

  /** q_window_tumbling — 1-day tumbling windows × event_type (batch form
    * of the streaming aggregation in graft.streaming). */
  def windowTumbling(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    ord(
      e.groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
                col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("val")),
      col("day"), col("event_type"))
  }

  /** q_window_sliding — 1-hour windows sliding 30 min. Uses Spark's
    * `window()` generator; each event lands in exactly two windows.
    * Emitted as epoch seconds (integral) for oracle parity. */
  def windowSliding(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    ord(
      e.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("val"))
        .select(epochSec(col("window.start")).as("w_start"),
                col("event_type"), col("n"), col("val")),
      col("w_start"), col("event_type"))
  }

  /** q_attribution — first-touch revenue attribution: each session's
    * purchase revenue is credited to the session's landing event type
    * (GA's acquisition-report credit model). Revenue is summed RAW
    * within the session and r4'd only at the final rollup — one
    * rounding point, the hash-safe pattern. */
  def attribution(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d))
        .groupBy(col("landing_type"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(col("n_purch")).as("n_purchases"),
             r4(sum(col("rev"))).as("revenue")),
      col("landing_type"))
  }

  /** q_attribution_last — last-touch revenue attribution: the mirror of
    * q_attribution with credit going to the session's EXIT event type;
    * the same one-rounding-point revenue rule. */
  def attributionLast(s: SparkSession, d: String): DataFrame = {
    ord(
      perSession(sessionized(s, d))
        .groupBy(col("exit_type"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(col("n_purch")).as("n_purchases"),
             r4(sum(col("rev"))).as("revenue")),
      col("exit_type"))
  }

  /** q_attribution_linear — linear (even-credit) multi-touch
    * attribution: each session's purchase revenue is split equally
    * across ALL the session's touches, and each touch credits its
    * event type — the GA linear model between the first-touch and
    * last-touch extremes.
    *
    * The session measures join BACK to the store on (user_id, sid),
    * then a tiny rollup on event type. Revenue is divided by the touch
    * count per touch and summed RAW across sessions, rounded once at
    * the end (the q_attribution rule).
    *
    * Measured cost (sf0.1, local[4]; this query and
    * q_attribution_position alike): Bench's `.count()` runs 6 jobs,
    * 6 stages and 72 tasks per rep, a `collect()` 7 stages and 73
    * tasks. A join needs its inputs clustered on ALL its keys
    * (`spark.sql.requireAllClusterKeysForCoPartition`), and the user_id
    * bucketing is not (user_id, sid), so both sides take an
    * `Exchange hashpartitioning(user_id, sid, 4)`. That leaves the
    * store-side scan's bucketing unused, and Spark reads it un-bucketed
    * (`Bucketed: false (disabled by query planner)`): the exchange's map
    * stage packs the store's 240 files (30 days × 8 buckets, each
    * charged the 4 MB open cost) into 16 MB splits, 60 tasks. The
    * session aggregate keeps its bucketed scan (8 tasks); AQE turns the
    * join into a broadcast and runs the rest as 1-task stages. */
  def attributionLinear(s: SparkSession, d: String): DataFrame = {
    val ev = sessionized(s, d)
    val sess = perSession(ev)
      .select(col("user_id"), col("sid"), col("rev"),
              col("n_events").as("n_touch"))
    ord(
      ev.join(sess, Seq("user_id", "sid"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
             r4(sum(col("rev") / col("n_touch"))).as("revenue")),
      col("event_type"))
  }

  /** Half-life of q_attribution_decay's credit weights, in seconds.
    * 10 min: within a 30-min-inactivity session a touch half an
    * inactivity-timeout before the conversion still carries 2⁻³ of the
    * credit of the final touch — the standard GA time-decay scale. */
  val DecayHalflifeSec = 600L

  /** Decay-weight floor: exponents clamp at −[[DecayExpFloor]] (weight
    * ≥ 2⁻⁴⁰) in BOTH the operator and the oracle, keeping the weight
    * sum exactly associative (≤ 40 ≪ 53 binary orders spanned) for
    * sessions of ANY length — see [[attributionDecay]]'s scaladoc. */
  val DecayExpFloor = 40L

  /** q_attribution_decay — exponential time-decay multi-touch
    * attribution, the fourth GA credit model next to first/last/linear:
    * each touch in a converting session earns weight 2^(−⌊Δ/h⌋) where
    * Δ = seconds from the touch to the session's final event (the
    * conversion anchor) and h = [[DecayHalflifeSec]]; the session's
    * purchase revenue splits proportionally to the weights and each
    * touch credits its event type.
    *
    * Scale shape: the per-session revenue and anchor and the weight
    * sum are WINDOW aggregates over (user_id, sid) — two stacked
    * windows on one sort, exchange-free on the store's user bucketing,
    * with no join back to the store (unlike q_attribution_linear) —
    * then a tiny rollup on event type.
    *
    * Determinism: the decay exponent is the INTEGER ⌊Δ/h⌋, CLAMPED at
    * −[[DecayExpFloor]], so every weight is an exact power of two
    * (libm pow is exact on those) — both engines sum the same exact
    * dyadic multiset; revenue divides by the weight sum once per touch
    * and is r4'd once at the rollup (the q_attribution rule). The
    * clamp is what makes the exactness claim hold at ANY session
    * length: unclamped, a session spanning > 52 half-lives of
    * continuous sub-gap activity puts weights > 2⁵² apart, the weight
    * SUM's rounding becomes partition-order-dependent, and the engines
    * can diverge. With the floor, every weight spans ≤ 2⁴⁰ ≪ 2⁵³
    * binary orders, so sum(w) is exact whatever the add order. A
    * 2⁻⁴⁰ credit share is ~10⁻¹² of the final touch — zero at r4. */
  def attributionDecay(s: SparkSession, d: String): DataFrame = {
    // The weight-sum window must be a second node (w derives from the
    // first window's end_sec) but shares its sort; the weight sum stays
    // the exact dyadic-multiset sum whatever the add order (the clamp
    // note above).
    val wSess = Window.partitionBy(col("user_id"), col("sid"))
    ord(
      sessionized(s, d)
        .withColumn("rev",
          sum(when(col("event_type") === "purchase", col("value"))
                .otherwise(lit(0.0))).over(wSess))
        .withColumn("w", pow(lit(2.0),
          greatest(-floor((max(col("ts_sec")).over(wSess) - col("ts_sec")) /
                          lit(DecayHalflifeSec.toDouble)),
                   lit(-DecayExpFloor.toDouble))))
        .withColumn("wsum", sum(col("w")).over(wSess))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
             r4(sum(col("rev") * col("w") / col("wsum"))).as("revenue")),
      col("event_type"))
  }

  /** q_attribution_position — position-based (U-shaped) multi-touch
    * attribution, the fifth GA credit model beside first/last/linear/
    * decay: the first and the last touch of a session each earn 40% of
    * the session's purchase revenue and the middle touches split the
    * remaining 20% evenly. Boundary rules are the standard ones:
    * single-touch sessions keep 100%, two-touch sessions split 50/50.
    *
    * The session measures (revenue, touch count, and the first/last
    * (ts, event_id) keys that identify the endpoint touches) join BACK
    * to the store on (user_id, sid), as in q_attribution_linear, whose
    * scaladoc gives the join's measured cost.
    *
    * Determinism: endpoint membership is an exact struct equality (the
    * unique event_id breaks ts ties identically in both engines); the
    * weights 1.0/0.5/0.4/0.2·(n−2)⁻¹ evaluate the same literal-double
    * expression tree both sides, and revenue is summed RAW and r4'd
    * once at the rollup (the q_attribution rule). */
  def attributionPosition(s: SparkSession, d: String): DataFrame = {
    val ev = sessionized(s, d)
    val sess = perSession(ev)
      .select(col("user_id"), col("sid"), col("rev"),
              col("n_events").as("n_touch"), col("first_k"), col("last_k"))
    val k = struct(col("ts"), col("event_id"))
    ord(
      ev.join(sess, Seq("user_id", "sid"))
        .withColumn("w",
          when(col("n_touch") === 1, lit(1.0))
            .when(col("n_touch") === 2, lit(0.5))
            .when(k === col("first_k") || k === col("last_k"), lit(0.4))
            .otherwise(lit(0.2) / (col("n_touch") - lit(2)).cast("double")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
             r4(sum(col("rev") * col("w"))).as("revenue")),
      col("event_type"))
  }

  /** q_markov — first-order Markov transition matrix over in-session
    * event sequences: for every (current, next) event-type pair, the
    * transition count and P(next | current). GA's "behavior flow"
    * report in matrix form, and the input a journey-simulation or
    * next-event model trains on. The probability divides two exact
    * integer counts once — hash-safe r4. */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val trans = transitions(s, d)
    val totals = trans.groupBy(col("cur_type")).agg(sum(col("n")).as("total"))
    ord(
      trans.join(totals, "cur_type")
        .select(col("cur_type"), col("next_type"), col("n"),
                r4(col("n").cast("double") / col("total")).as("p")),
      col("cur_type"), col("next_type"))
  }

  /** q_entropy_rate — entropy rate of the session Markov chain: per
    * current state i, the conditional next-step entropy
    * H_i = ln n_i − (Σ_j n_ij·ln n_ij)/n_i (nats), its stationary
    * weight π_i = n_i/N estimated from the transition-count marginals,
    * and the contribution π_i·H_i whose column sum is the chain's
    * entropy rate — "how predictable is the next click given where the
    * user is". The information-theoretic summary of the q_markov
    * transition matrix: a state with H_i ≈ 0 is a funnel step, a high-
    * contribution state is where journeys genuinely branch.
    *
    * Determinism: transition counts are exact int64 on the totally-
    * ordered (ts, event_id) session chain; the only cross-row double
    * sum (Σ n·ln n) folds in SORTED order via sort_array + aggregate
    * (≙ DuckDB list_sort + list_reduce — the q_user_entropy rule);
    * H, π and the contribution are identically-spelled single chains
    * r4'd once; a 1-state chain reports H = 0 exactly (ln n − n·ln n/n).
    * Everything after the transition count lives on the
    * |event_types|²-bounded count frame; the 1-row N frame broadcasts. */
  def entropyRate(s: SparkSession, d: String): DataFrame = {
    val trans = transitions(s, d)
    val rows = trans.groupBy(col("cur_type"))
      .agg(sum(col("n")).as("n_i"), count(lit(1)).as("k"),
           sort_array(collect_list(col("n").cast("double"))).as("cs"))
    val total = trans.agg(sum(col("n")).as("big_n"))
    val h = expr(
      """ln(CAST(n_i AS DOUBLE)) -
         aggregate(cs, CAST(0.0 AS DOUBLE),
                   (a, x) -> a + x * ln(x)) / n_i""")
    ord(
      rows.crossJoin(broadcast(total))
        .select(col("cur_type"), col("n_i").as("n_trans"),
                col("k").as("n_next_states"),
                r4(h).as("h_row"),
                r4(col("n_i").cast("double") / col("big_n")).as("weight"),
                r4(h * (col("n_i").cast("double") / col("big_n")))
                  .as("contribution")),
      col("cur_type"))
  }

  /** q_bot_filter — GA's data-hygiene screen: users whose peak
    * event rate within any single minute reaches the bot threshold,
    * with their peak rate, active-minute count and total volume. The
    * flag list feeds an anti-join upstream of every per-user metric
    * (loyalty, retention, funnels) — rate-based bot exclusion is the
    * first filter every real analytics pipeline applies.
    *
    * Determinism: pure integer counts end to end; the threshold
    * compares exact int64.
    *
    * Scale shape: ONE partial-aggregable shuffle on (user, minute) —
    * map-side combine collapses each user-minute before the exchange —
    * then a second rollup on user_id alone. Both keys are finer/equal
    * to user_id, so at 100 TB the heavy first shuffle bounds the cost;
    * no windows, no sorts. */
  /** q_attribution_shapley — Shapley-value channel attribution, the
    * game-theoretic member the heuristic family (last/linear/decay/
    * position) approximates: each non-conversion channel's Shapley
    * value over the 4-channel universe {click, error, signup, view},
    * with v(S) = observed conversion rate of users whose touched-
    * channel set is exactly S (unobserved subsets contribute v = 0 —
    * the data-driven convention, spelled identically in the oracle).
    * φᵢ = Σ_{S∌i} |S|!(n−|S|−1)!/n! · (v(S∪i) − v(S)).
    *
    * Determinism: the fixed 4-channel universe makes the factorial
    * weights integer when scaled by 4! = 24 (6/2/2/6 by |S|); v terms
    * are doubles, so the per-channel sum over the 16-subset powerset
    * folds in MASK order on both engines (sort_array+aggregate ≙
    * list ORDER BY + list_reduce — the q_anova rule).
    *
    * Scale shape: ONE fact-scale per-user rollup (mask + conversion in
    * the same pass); everything after lives on the ≤16-row subset
    * frame and a generated powerset spine, all broadcast. */
  def attributionShapley(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = Tables.events(s, d).groupBy(col("user_id"))
      .agg((max(when(col("event_type") === "click", 1L).otherwise(0L)) +
            max(when(col("event_type") === "error", 1L).otherwise(0L)) * 2L +
            max(when(col("event_type") === "signup", 1L).otherwise(0L)) * 4L +
            max(when(col("event_type") === "view", 1L).otherwise(0L)) * 8L)
             .as("mask"),
           max(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("conv"))
    val sub = u.groupBy(col("mask"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val spine = s.range(16).select(col("id").as("mask"))
    val v = spine.join(sub, Seq("mask"), "left")
      .select(col("mask"),
              coalesce(col("c").cast("double") / col("n"), lit(0.0)).as("v"))
    val vb = v.select(col("mask").as("m2"), col("v").as("v2"))
    val ch = Seq((1L, "click"), (2L, "error"), (4L, "signup"), (8L, "view"))
      .toDF("bit", "channel")
    val terms = broadcast(ch).crossJoin(broadcast(v))
      .filter(expr("mask & bit") === 0L)
      .join(broadcast(vb), col("m2") === expr("mask | bit"))
      .withColumn("w",
        expr("CASE bit_count(mask) WHEN 0 THEN 6 WHEN 1 THEN 2 " +
             "WHEN 2 THEN 2 WHEN 3 THEN 6 END").cast("double"))
      .withColumn("term", col("w") * (col("v2") - col("v")))
    val phi = terms.groupBy(col("channel"))
      .agg(expr("aggregate(sort_array(collect_list(named_struct(" +
                "'m', mask, 't', term))), cast(0.0 as double), " +
                "(acc, x) -> acc + x.t)").as("s24"))
    ord(
      phi.select(col("channel"), r4(col("s24") / 24.0).as("shapley")),
      col("channel"))
  }

  /** q_concurrency — peak concurrent sessions per day via a SWEEP LINE:
    * each session contributes +1 at its start second and −1 one second
    * after its end; the running sum over the time-ordered sweep is the
    * live concurrency, and its per-day max is the capacity-planning
    * number ("how many simultaneous sessions must we serve"). A
    * distinct algorithmic shape — interval-overlap counting that no
    * groupBy can express.
    *
    * Determinism: at equal timestamps all +1s order before −1s (delta
    * DESC), so same-second hand-offs count as overlapping — and the
    * per-day MAX is invariant to order within either delta group.
    * Pure integer counts.
    *
    * Scale shape: the sweep frame is 2 rows per session —
    * data-proportional, so the running sum rides [[graft.functions.Dist.prefix]] (range-partitioned
    * chunks with carried-in offsets — prefix sums are associative;
    * r14, the documented chunked form built); the daily rollup is
    * partial-aggregable. Within a same-(t,delta) tie block the running
    * sum is order-dependent per ROW but the per-day max is reached at
    * the block end either way — tie-invariant like the global window. */
  def concurrency(s: SparkSession, d: String): DataFrame = {
    val sess = perSession(sessionized(s, d))
      .select(col("start_sec").as("st"), col("end_sec").as("en"))
      .shared
    val sweep = sess.select(col("st").as("t"), lit(1L).as("delta"))
      .unionAll(sess.select((col("en") + 1L).as("t"), lit(-1L).as("delta")))
    ord(
      graft.functions.Dist.prefix(sweep, Nil,
          Seq(col("t"), col("delta").desc),
          cums = Seq("live" -> col("delta")))
        .groupBy(expr("t DIV 86400").cast("int").as("day_num"))
        .agg(max(col("live")).as("peak_concurrent"),
             sum(when(col("delta") === 1L, 1L).otherwise(0L))
               .as("n_starts")),
      col("day_num"))
  }

  /** q_disorder_audit — out-of-orderness of the event stream per type:
    * treating event_id as arrival order, an event is LATE when its
    * timestamp precedes the running max of everything that arrived
    * before it, and its lateness is that gap. Max/avg lateness are
    * exactly the numbers that size a streaming watermark (the 1-hour
    * horizon the twelve gated streams declare) — measured from the
    * data instead of guessed.
    *
    * Determinism: pure integer seconds; avg divides exact ints once.
    *
    * Scale shape: one per-type arrival-ordered window (the sessionize
    * shape), one partial-aggregable rollup. */
  def disorderAudit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
              epochSec(col("ts")).as("sec"))
      .withColumn("runmax", max(col("sec")).over(w))
      .withColumn("late",
        greatest(lit(0L), col("runmax") - col("sec")))
    ord(
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(when(col("late") > 0L, 1L).otherwise(0L)).as("n_late"),
             max(col("late")).as("max_late_sec"),
             sum(col("late")).as("sum_late"))
        .select(col("event_type"), col("n_events"), col("n_late"),
                col("max_late_sec"),
                r4(try_divide(col("sum_late").cast("double"),
                              col("n_late"))).as("avg_late_sec")),
      col("event_type"))
  }

  def botFilter(s: SparkSession, d: String): DataFrame = {
    val perMin = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("m"))
      .agg(count(lit(1)).as("c"))
    ord(
      perMin.groupBy(col("user_id"))
        .agg(max(col("c")).as("peak_epm"),
             count(lit(1)).as("active_minutes"),
             sum(col("c")).as("total_events"))
        .filter(col("peak_epm") >= 2L),
      col("user_id"))
  }

  /** q_event_dwell — per-event-type dwell time: for every event, the
    * gap until the SAME user's next event (lead over the user
    * timeline), rolled up per the event type being LEFT — the GA "time
    * on page" proxy (GA attributes time-on-page to the page whose hit
    * opens the interval, exactly this shape). Each user's last event
    * has no successor and drops out, mirroring GA's undefined exit
    * dwell.
    *
    * Determinism: the timeline order is (ts, event_id) — total; gaps
    * are EXACT integer microsecond differences (unix_micros ↔ the
    * oracle's epoch_us on the µs-normalized ts), summed per group and
    * divided once, r4'd.
    *
    * Scale shape: one hash shuffle on user_id for the lead window (the
    * sessionize partitioning — no global sort), then one
    * partial-aggregable rollup on event_type. */
  def eventDwell(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
              col("ts"), expr("unix_micros(ts)").as("us"))
    Fin.ord(
      e.withColumn("next_us", lead(col("us"), 1).over(w))
        .where(col("next_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
             sum(col("next_us") - col("us")).as("gap_us"),
             max(col("next_us") - col("us")).as("max_us"))
        .select(col("event_type"), col("n_gaps"),
                Fin.r4(col("gap_us").cast("double") / 1000000.0 /
                       col("n_gaps")).as("avg_gap_s"),
                Fin.r4(col("max_us").cast("double") / 1000000.0)
                  .as("max_gap_s")),
      col("event_type"))
  }

  /** q_user_entropy — behavioral diversity per user: Shannon entropy
    * (nats) of the user's event-type distribution, with event and
    * distinct-type counts. Entropy 0 = single-behavior users (bots,
    * scrapers — complements q_bot_filter's rate screen with a SHAPE
    * screen); high entropy = engaged explorers. The segmentation
    * feature every personalization model wants beside raw loyalty
    * counts.
    *
    * Determinism: H = ln(n) − (Σ c·ln c)/n; the Σ runs over the
    * user's per-type counts folded in SORTED order on both engines
    * (sort_array + `aggregate` ↔ list_sort + list_reduce), so the
    * double accumulation order is pinned — the q_anova ordered-fold
    * rule; ln args are exact integer counts.
    *
    * Scale shape: one partial-aggregable (user, type) rollup, one
    * per-user rollup with a ≤|types|-element array — bounded by the
    * type universe, never by event volume. */
  def userEntropy(s: SparkSession, d: String): DataFrame = {
    val c = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    Fin.ord(
      c.groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("k"),
             sort_array(collect_list(col("c").cast("double"))).as("cs"))
        .select(col("user_id"), col("n").as("n_events"),
                col("k").as("n_types"),
                Fin.r4(expr(
                  """ln(CAST(n AS DOUBLE)) -
                     aggregate(cs, CAST(0.0 AS DOUBLE),
                               (a, x) -> a + x * ln(x)) / n"""))
                  .as("entropy")),
      col("user_id"))
  }

  /** q_attribution_markov — Markov removal-effect attribution (the
    * Anderl et al. data-driven model): build the first-order journey
    * chain START → channels → {CONV, NULL}, compute the 20-step
    * absorption probability P(CONV), then for each channel recompute
    * it with that channel REMOVED (transitions into it redirected to
    * NULL) — removal effect 1 − P₋c/P, normalized into shares. This
    * is the model-based tier above the 5 heuristic attribution rows
    * (last/linear/decay/position/shapley): credit is what the JOURNEY
    * GRAPH loses without the channel, not a hand-picked weight.
    *
    * Determinism: journeys truncate at the user's first purchase
    * under the total (ts, event_id) order; transition probabilities
    * are single divisions of exact counts; the K = 20 fixed-depth
    * iteration (the q_pagerank stance) runs as ONE fold expression —
    * per step, per state, the inner Σ over source states folds in
    * state order (DuckDB mirrors with list_reduce over an index-range
    * list, pairwise-left-assoc — identical op sequence since 0+t₁ is
    * exact); the removal-effect sum folds in channel-id order; NULL
    * guards for a conversion-free corpus (§2.10).
    *
    * Scale shape: the heavy work is ONE user-partitioned window pass
    * over events (the q_sessionize shape) + a (from, to) rollup
    * bounded by (|channels|+3)²; everything after — the matrices, the
    * (m+1)-scenario iteration, the share rollup — lives on frames
    * bounded by the channel vocabulary, never by data volume. */
  def attributionMarkov(s: SparkSession, d: String): DataFrame = {
    val K = 20
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("fpk"))
      // |purchasing users| rows, read by the journey join AND the
      // direct-conversion anti-join — without this the events scan +
      // purchase rollup runs twice
      .shared
    // persist the filtered journey frame ONCE: the window pass and
    // the direct-conversion anti-join both read it, and without the
    // barrier each downstream consumer re-derives the fact-scale
    // events⋈first-purchase join (4 plan forks cost ~8 s at sf0.1 —
    // the q_heaps_law lesson at join scale)
    val j = ev.join(fp, Seq("user_id"), "left")
      .withColumn("conv", col("fpk").isNotNull)
      .filter(col("event_type") =!= "purchase" &&
              (col("fpk").isNull ||
               struct(col("ts"), col("event_id")) < col("fpk")))
      .shared
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // ONE window pass emits every transition a row owns — the START
    // edge (when it opens a journey) and its outgoing edge (to the
    // next event, or to the CONV/NULL absorber when it closes one) —
    // instead of three filtered re-reads of the windowed frame
    val seqd = j.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
    val pairRows = seqd.select(explode(expr(
      """concat(
           IF(prev_type IS NULL,
              array(named_struct('f', '__START__', 't', event_type)),
              slice(array(named_struct('f', '__START__', 't', event_type)),
                    1, 0)),
           array(named_struct('f', event_type,
                              't', coalesce(next_type,
                                            IF(conv, '__CONV__',
                                               '__NULL__')))))""")).as("tr"))
      .select(col("tr.f").as("f"), col("tr.t").as("t"))
    // converters whose ONLY events are purchases: START → CONV direct
    val directConv = fp
      .join(j.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
      .select(lit("__START__").as("f"), lit("__CONV__").as("t"))
    // The frames below are all CHANNEL-VOCABULARY-bounded (≤ m+3 states,
    // ≤ (m+3)² cells) but referenced 2-5× each AND chained four deep —
    // exactly the shape where persist() is the WRONG tool: caching
    // stores data but keeps the logical plan, so a chain of cached
    // diamonds composes a k^depth analysis tree (measured r17: the
    // persisted form's formatted plan carried 702 parquet-scan
    // reprints and the query went 2.2 → 12 s at sf0.1 from pure
    // driver-side planning). Iter.cut truncates the plan per layer —
    // one flat tree per matrix frame (13 exchanges, the r14 number) —
    // and stays cluster-honest: reliable checkpoint when
    // graft.iter.checkpoint.dir is set, loud-failure local otherwise
    // (values unchanged, oracle-gated at three SFs; the upstream
    // fact-scale frames fp/j stay recompute-safe persist()).
    val trans = pairRows.unionAll(directConv)
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
      .iterCut(false)
    // channel ids 1..m by name order; START=0, CONV=m+1, NULL=m+2.
    // r19 (r18 verdict ask #8): the r18 job trace read ~28 Spark jobs
    // per cold action, almost all broadcast builds over these
    // channel-vocabulary-bounded frames. Every lookup below now rides
    // a SCALAR SUBQUERY bound once (the Dist-tier idiom): one 1-row
    // struct carries chId's name→id and id→name maps plus m and S; the
    // dense matrix probability reads a (fid·S + tid)→n map and a
    // fid→outn map, so the S² spine needs NO join at all and the
    // removed-channel probability pc is the SAME cell formula evaluated
    // at (fid, scenario) — (fid, scenario) is always a spine cell, so
    // the old left-join-never-misses becomes a direct computation.
    // Map-lookup semantics ≡ the replaced left joins (missing key →
    // NULL); every value formula is unchanged, and the chId/dense cuts
    // are gone because their multi-consumer diamonds became
    // single-execution subqueries.
    val channels = trans.select(col("f").as("stt"))
      .unionAll(trans.select(col("t").as("stt")))
      .filter(!col("stt").isin("__START__", "__CONV__", "__NULL__"))
      .distinct()
    val chId = channels.select(col("stt"),
      row_number().over(Window.orderBy(col("stt"))).cast("int").as("sid"))
    val chS = chId.agg(
        map_from_entries(collect_list(struct(col("stt"), col("sid"))))
          .as("c2i"),
        map_from_entries(collect_list(struct(col("sid"), col("stt"))))
          .as("i2c"),
        max(col("sid")).as("m"))
      .select(struct(col("c2i"), col("i2c"), col("m"),
                     (col("m") + 3).cast("int").as("S")).as("o"))
      .scalar()
    val tr2 = trans
      .withColumn("__ch", chS)
      .select(
        when(col("f") === "__START__", lit(0))
          .otherwise(element_at(col("__ch.c2i"), col("f"))).as("fid"),
        when(col("t") === "__CONV__", col("__ch.m") + 1)
          .when(col("t") === "__NULL__", col("__ch.m") + 2)
          .otherwise(element_at(col("__ch.c2i"), col("t"))).as("tid"),
        col("n"), col("__ch.S").as("S"))
      // a corpus with no channel state (every journey purchase-only)
      // has m = NULL, so CONV's id is NULL: no cell, and no NULL map key
      .filter(col("tid").isNotNull)
    // 0 ≤ fid, tid < S, so the stride S gives every cell its own key
    val cellKey = (f: Column, t: Column) => f.cast("long") * col("S") + t
    val nMap = tr2.agg(map_from_entries(collect_list(struct(
        cellKey(col("fid"), col("tid")).as("k"), col("n").as("v"))))
      .as("m")).scalar()
    val oMap = tr2.groupBy(col("fid")).agg(sum(col("n")).as("outn"))
      .agg(map_from_entries(collect_list(struct(col("fid"), col("outn"))))
        .as("m")).scalar()
    val probAt = (f: Column, t: Column) =>
      when(f === col("S") - 2,
           when(t === col("S") - 2, lit(1.0)).otherwise(lit(0.0)))
        .when(f === col("S") - 1,
              when(t === col("S") - 1, lit(1.0)).otherwise(lit(0.0)))
        .otherwise(coalesce(
          element_at(col("__nm"), cellKey(f, t)).cast("double") /
            element_at(col("__om"), f).cast("double"), lit(0.0)))
    val sd = s.range(1).select(chS.as("__ch"))
      .select(col("__ch"),
              explode(sequence(lit(0), col("__ch.S") - 1)).as("fid"))
      .select(col("__ch"), col("fid"),
              explode(sequence(lit(0), col("__ch.S") - 1)).as("tid"))
      .withColumn("S", col("__ch.S"))
      .withColumn("__nm", nMap)
      .withColumn("__om", oMap)
      .withColumn("prob", probAt(col("fid"), col("tid")))
      .withColumn("scenario",
        explode(sequence(lit(0), col("__ch.m"))))
      .withColumn("p2",
        when(col("scenario") === 0, col("prob"))
          .when(col("tid") === col("scenario"), lit(0.0))
          .when(col("tid") === col("S") - 1,
                col("prob") +
                  coalesce(probAt(col("fid"), col("scenario")), lit(0.0)))
          .otherwise(col("prob")))
    val mats = sd.groupBy(col("scenario"))
      .agg(max(col("S")).as("S"),
           expr("""transform(
                     sort_array(collect_list(struct(fid * S + tid AS k,
                                                    p2 AS v))),
                     x -> x.v)""").as("tm"))
    val it = mats.withColumn("pk", expr(s"""
        aggregate(sequence(1, $K),
          transform(sequence(0, S - 1),
                    i -> IF(i = 0, CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))),
          (p, step) -> transform(sequence(0, S - 1), st ->
            aggregate(sequence(0, S - 1), CAST(0.0 AS DOUBLE),
              (a, f) -> a + element_at(p, f + 1) *
                            element_at(tm, f * S + st + 1))))"""))
      .withColumn("p_conv", expr("element_at(pk, S - 1)"))
      // m+1 rows; base and scored both read it — one power iteration
      .iterCut(false)
    // base P(CONV) and the removal-effect total ride scalar subqueries
    // over the cut `it` frame (r19): max() over the single scenario-0
    // row is that row's value, and an empty `it` (event-free corpus)
    // leaves `scored` empty either way, so both forms emit the same
    // rows. The id→name attachment is the i2c map lookup — scenario
    // 1..m is always a channel id, matching the old inner join.
    val pBase = it.filter(col("scenario") === 0)
      .agg(max(col("p_conv")).as("p_base")).scalar()
    val scored = it.filter(col("scenario") > 0)
      .withColumn("__ch", chS)
      .select(col("scenario").as("sid"), col("p_conv").as("p_removed"),
              element_at(col("__ch.i2c"), col("scenario")).as("stt"))
      .withColumn("p_base", pBase)
      .withColumn("re",
        lit(1.0) - col("p_removed") / nullif(col("p_base"), lit(0.0)))
    val sre = scored.agg(expr(
      """aggregate(transform(sort_array(collect_list(struct(sid, re))),
                             x -> x.re),
                   CAST(0.0 AS DOUBLE), (a, x) -> a + x)""").as("sre"))
      .scalar()
    ord(
      scored.withColumn("sre", sre)
        .select(col("stt").as("channel"),
          r4(col("p_base")).as("p_conv"),
          r4(col("p_removed")).as("p_conv_removed"),
          r4(col("re")).as("removal_effect"),
          r4(col("re") / nullif(col("sre"), lit(0.0))).as("share")),
      col("channel"))
  }
}
