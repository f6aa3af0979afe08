package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.SparkSession

import graft.Iter.IterOps
import graft.Fin

/** Declarative report API — the reference's user surface: declare
  * dimensions + metrics + a date range, get an unsampled report
  * (SURVEY.md §0: "declarative config of which GA dimensions/metrics to
  * pull", day-bucketed). The "plan" here really is the config: it maps
  * 1:1 onto a Catalyst logical plan (filter → bucket → groupBy → agg),
  * so every optimizer rule applies and nothing is hand-scheduled.
  */
object ReportOps {

  /** One requested metric: aggregation ∈ {sum, avg, min, max, count,
    * count_distinct, approx_count_distinct}, input column, output alias. */
  final case class Metric(agg: String, column: String, alias: String)

  /** A report request. `dateBucket` ∈ {day, week, month, quarter, year}
    * adds a leading time dimension (the GA date axis). */
  final case class ReportSpec(
      dimensions: Seq[String],
      metrics: Seq[Metric],
      dateCol: String,
      startDate: String,
      endDate: String,
      dateBucket: Option[String] = Some("day"))

  private def metricCol(m: Metric): Column = {
    val c = col(m.column)
    val agg = m.agg match {
      case "sum" => Fin.r4(sum(c))
      case "avg" => Fin.r4(avg(c))
      case "min" => min(c)
      case "max" => max(c)
      case "count" => count(c)
      case "count_distinct" => countDistinct(c)
      case "approx_count_distinct" => approx_count_distinct(c, 0.01)
      case other => throw new IllegalArgumentException(s"unknown agg: $other")
    }
    agg.as(m.alias)
  }

  /** Run a report over a source table. Output is totally ordered on the
    * dimension columns (deterministic re-runs, SURVEY.md §2.10). */
  def run(source: DataFrame, spec: ReportSpec): DataFrame = {
    require(spec.metrics.nonEmpty, "a report needs at least one metric")
    val inRange = source.filter(
      col(spec.dateCol) >= lit(spec.startDate).cast("timestamp") &&
      col(spec.dateCol) < lit(spec.endDate).cast("timestamp"))
    val (bucketed, dims) = spec.dateBucket match {
      case Some(b) =>
        val bucket = date_trunc(b, col(spec.dateCol)).cast("date").as("period")
        (inRange.withColumn("period", bucket), "period" +: spec.dimensions)
      case None => (inRange, spec.dimensions)
    }
    bucketed
      .groupBy(dims.map(col): _*)
      .agg(metricCol(spec.metrics.head), spec.metrics.tail.map(metricCol): _*)
      .orderBy(dims.map(col): _*)
  }

  /** q_report_declarative — the reference's whole user surface as one
    * driver-checked query: a ReportSpec (dimensions + metrics + date
    * range + day bucket) compiled to filter → bucket → groupBy → agg.
    * The oracle is the SQL a GA user would have written by hand —
    * proving the declarative layer adds nothing and loses nothing. */
  def reportDeclarative(s: SparkSession, d: String): DataFrame =
    run(graft.Tables.events(s, d), ReportSpec(
      dimensions = Seq("event_type"),
      metrics = Seq(
        Metric("sum", "value", "total_value"),
        Metric("count", "event_id", "n"),
        Metric("count_distinct", "user_id", "n_users")),
      dateCol = "ts",
      startDate = "2024-01-05",
      endDate = "2024-01-20"))

  /** q_cohort_retention — the GA retention matrix: users are cohorted
    * by their first active day; each (cohort_day, day_offset) cell
    * counts how many of that cohort were active offset days later.
    *
    * Scale shape: distinct (user, day) is one partial-aggregable
    * shuffle; the cohort min is a per-user aggregate; the join is
    * co-partitioned on user_id (exchange reuse with the previous
    * aggregate); the final cell count is one more aggregate. Linear,
    * window-free — the matrix itself is at most days² rows regardless
    * of corpus size. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val ud = graft.Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val cohort = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ord(
      ud.join(cohort, "user_id")
        .select(col("cohort_day"),
                datediff(col("day"), col("cohort_day")).as("day_offset"))
        .groupBy(col("cohort_day"), col("day_offset"))
        // ud is already distinct per (user, day), so a plain count is a
        // distinct-user count — no second distinct shuffle needed
        .agg(count(lit(1)).as("n_users")),
      col("cohort_day"), col("day_offset"))
  }

  /** q_new_returning — GA's audience split: per active day, how many
    * distinct users are NEW (first-ever activity that day) vs
    * RETURNING. Reuses the cohort machinery: distinct (user, day) is
    * one partial-aggregable shuffle, the per-user first day a second,
    * and the join is co-partitioned on user_id (exchange reuse with the
    * cohort aggregate). Linear, window-free. */
  def newVsReturning(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val ud = graft.Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val cohort = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ord(
      ud.join(cohort, "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
             sum(when(col("day") === col("cohort_day"), 1L).otherwise(0L))
               .as("n_new"),
             sum(when(col("day") === col("cohort_day"), 0L).otherwise(1L))
               .as("n_returning")),
      col("day"))
  }

  /** The q_funnel step sequence (GA goal funnel): first view, then
    * first click AFTER that view, then first purchase AFTER that click. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** q_funnel — strictly-ordered funnel conversion: for each user, step
    * n counts only if it happens after the user's step n-1 time. Emits
    * one row per step with the users reaching it and the conversion
    * fraction vs step 1.
    *
    * Scale shape: each step is filter → per-user min-aggregate →
    * co-partitioned join on user_id; event_type filters prune each scan
    * (pushed to parquet). No windows, no sequence explosion — state per
    * step is one timestamp per surviving user. */
  def funnel(s: SparkSession, d: String): DataFrame =
    funnelCore(s, d, withinSec = None)

  /** q_funnel_window — the TIME-BOXED funnel: step n counts only if it
    * happens after step n−1 AND within 24 h of it (GA funnels carry a
    * lookback window; the unbounded variant is [[funnel]]). Same
    * exchange shape — the cap is one extra pushed predicate on the
    * already-joined step frame, zero new shuffles. The comparison is on
    * exact epoch-second arithmetic (µs timestamps + an integer bound),
    * so the boundary cannot drift between engines. */
  def funnelWindow(s: SparkSession, d: String): DataFrame =
    funnelCore(s, d, withinSec = Some(86400L))

  private def funnelCore(s: SparkSession, d: String,
                         withinSec: Option[Long]): DataFrame = {
    import graft.Fin._
    val e = graft.Tables.events(s, d).select(col("user_id"), col("ts"), col("event_type"))
    // each step frame (one timestamp per surviving user) is
    // persisted so step n+1, the per-step count AND the entry
    // count all reuse it — without this, step 3's lineage would nest
    // steps 1-2 and the source would be re-scanned ~7× per funnel.
    // persist is LAZY: each step materializes inside the first job
    // that reads it (an eager barrier here ran one blocking job per
    // step, serializing an N-step funnel into N driver round-trips —
    // the dedupCluster fusion pattern).
    def firstAfter(step: String, prev: Option[DataFrame]): DataFrame = {
      val base = e.filter(col("event_type") === step)
      val gated = prev match {
        case Some(p) =>
          val joined = base.join(p, "user_id").filter(col("ts") > col("t_prev"))
          withinSec match {
            case Some(sec) => joined.filter(
              unix_timestamp(col("ts")) <= unix_timestamp(col("t_prev")) + sec)
            case None => joined
          }
        case None => base
      }
      gated.groupBy(col("user_id")).agg(min(col("ts")).as("t_prev"))
        .shared
    }
    val steps = FunnelSteps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (name, _)) => Some(firstAfter(name, prev))
    }.flatten
    val counts = steps.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("event_type"), col("n_users"))
    }
    val all = counts.reduce(_.unionByName(_))
    val entered = counts.head.select(col("n_users").as("n_entered"))
    ord(
      all.crossJoin(broadcast(entered))
        .select(col("step"), col("event_type"), col("n_users"),
                // zero-entry guard: a corpus with no step-1 events must
                // yield conv 0.0, not an engine-dependent 0/0
                r4(when(col("n_entered") === 0, lit(0.0))
                  .otherwise(col("n_users").cast("double") / col("n_entered")))
                  .as("conv")),
      col("step"))
  }

  /** q_rfm — RFM segmentation, the classic CRM/GA audience cut: per
    * user, Recency (days since last purchase, against the corpus max
    * day), Frequency (purchase count) and Monetary (summed purchase
    * value), each bucketed into quartiles against corpus-wide
    * interpolated percentile thresholds.
    *
    * Scale shape: one partial-aggregable shuffle on user_id builds the
    * per-user triple; the six thresholds are ONE extra 1-row aggregate
    * cross-joined back via broadcast — NOT a global ntile window, which
    * would funnel every user through a single partition. Bucketing
    * compares exact integers (recency/frequency) or r4 values
    * (monetary) against r4 thresholds, so quartile edges cannot flip on
    * engine float noise. */
  def rfm(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val e = graft.Tables.events(s, d)
    val maxDay = e.agg(max(expr("CAST(unix_timestamp(ts) DIV 86400 AS INT)"))
      .as("max_day"))
    val users = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(expr("CAST(unix_timestamp(ts) DIV 86400 AS INT)")).as("last_day"),
           count(lit(1)).as("frequency"),
           r4(sum(col("value"))).as("monetary"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"), (col("max_day") - col("last_day")).as("recency"),
              col("frequency"), col("monetary"))
    val thr = users.agg(
      percentile(col("recency"), lit(0.25)).as("r25"),
      percentile(col("recency"), lit(0.5)).as("r50"),
      percentile(col("recency"), lit(0.75)).as("r75"),
      percentile(col("frequency"), lit(0.25)).as("f25"),
      percentile(col("frequency"), lit(0.5)).as("f50"),
      percentile(col("frequency"), lit(0.75)).as("f75"),
      r4(percentile(col("monetary"), lit(0.25))).as("m25"),
      r4(percentile(col("monetary"), lit(0.5))).as("m50"),
      r4(percentile(col("monetary"), lit(0.75))).as("m75"))
    def q(v: Column, p25: Column, p50: Column, p75: Column): Column =
      when(v <= p25, 1).when(v <= p50, 2).when(v <= p75, 3).otherwise(4)
    ord(
      users.crossJoin(broadcast(thr))
        .select(col("user_id"), col("recency"), col("frequency"), col("monetary"),
                q(col("recency"), col("r25"), col("r50"), col("r75")).as("r_q"),
                q(col("frequency"), col("f25"), col("f50"), col("f75")).as("f_q"),
                q(col("monetary"), col("m25"), col("m50"), col("m75")).as("m_q")),
      col("user_id"))
  }

  /** q_ltv — cohort lifetime value: customers are grouped by their
    * acquisition month (first order); each cohort's revenue is laid out
    * by month-age and accumulated, yielding the classic LTV curve plus
    * a per-user cumulative value.
    *
    * Scale shape: the cohort month is a per-customer aggregate; the
    * join back is co-partitioned on custkey (exchange reuse with that
    * aggregate); the (cohort, age) matrix is at most months² rows, so
    * the running-sum window runs on a calendar-bounded frame, never the
    * fact table. Determinism: revenue is exact integer cents end to
    * end; the cumulative sum is an integer window sum; LTV-per-user
    * divides with the integer half-up round4 trick (cents/(100·n) is
    * the .00005 tie factory — see q_gap_fill). */
  def ltv(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val o = graft.Tables.orders(s, d)
      .select(col("o_custkey").as("cust"),
              (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
                .as("mi"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
    val cohort = o.groupBy(col("cust")).agg(min(col("mi")).as("cm"))
    val sizes = cohort.groupBy(col("cm")).agg(count(lit(1)).as("cohort_size"))
    val cells = o.join(cohort, "cust")
      .groupBy(col("cm"), (col("mi") - col("cm")).as("month_age"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cm")).orderBy(col("month_age"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    ord(
      cells
        .withColumn("cum", sum(col("c")).over(w))
        .join(sizes, "cm")
        .select(col("cm").as("cohort_month"), col("month_age"),
                col("cohort_size"), col("n_orders"),
                (col("c").cast("double") / 100.0).as("revenue"),
                (col("cum").cast("double") / 100.0).as("cum_revenue"),
                (expr("(20000 * cum + 100 * cohort_size) DIV (200 * cohort_size)")
                  .cast("double") / lit(10000.0)).as("ltv_per_user")),
      col("cohort_month"), col("month_age"))
  }

  /** q_active_users — the rolling-distinct audience report (GA's
    * DAU/WAU): per active day, the exact distinct users that day and
    * over the trailing 7 days. THE classically hard-at-scale metric —
    * distinct does not merge across days, so a naive per-day window
    * rescans the week per day.
    *
    * Scale shape: events reduce to distinct (day, user) pairs in one
    * partial-aggregable shuffle (the corpus never passes this point
    * again); each pair then REPLICATES to the ≤7 target days it can
    * serve (a 7-row broadcast of offsets — the sliding-window-by-
    * replication idiom of q_window_sliding), and one groupBy(day)
    * counts both distincts (dau via the off = 0 copy). Fan-out is ×7
    * on the already-distinct pairs, not on raw events. Report days =
    * ACTIVE days (a day with zero events emits no row — defined
    * semantic); the replicated frame is re-gated on real days by a
    * co-partitioned semi-join that reuses the groupBy exchange. */
  def activeUsers(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    // persisted: the distinct pair frame feeds both the
    // replicated fan-out AND the real-day gate — without it the events
    // scan + distinct run twice
    val du = graft.Tables.events(s, d)
      .select(expr("CAST(unix_timestamp(ts) DIV 86400 AS INT)").as("day_num"),
              col("user_id"))
      .distinct()
      .shared
    val offs = s.range(0, 7).select(col("id").cast("int").as("off"))
    val real = du.select(col("day_num")).distinct()
    ord(
      du.crossJoin(broadcast(offs))
        .select((col("day_num") + col("off")).as("day_num"),
                col("user_id"), col("off"))
        .join(real, Seq("day_num"), "left_semi")
        .groupBy(col("day_num"))
        .agg(countDistinct(when(col("off") === 0, col("user_id"))).as("dau"),
             countDistinct(col("user_id")).as("wau7")),
      col("day_num"))
  }

  /** q_period_over_period — the week-over-week trend report: per ISO
    * week (Monday-start `date_trunc`, identical in both engines),
    * order count, exact-cent revenue, and the fractional change vs the
    * previous REPORTED week (consecutive rows of the rollup — a gap
    * week simply isn't there to compare against, the q_moving_avg
    * calendar-gap stance).
    *
    * Scale shape: one partial-aggregable shuffle to the weekly rollup;
    * the lag window is unpartitioned BY DESIGN over ≤ |calendar weeks|
    * rows (PlanGuardSpec-whitelisted, the q_moving_avg precedent).
    * Change divides two exact integer cent sums once, r4'd; first week
    * yields NULL, and a zero-revenue previous week guards to NULL
    * rather than an engine-dependent division. */
  def periodOverPeriod(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val weekly = graft.Tables.orders(s, d)
      .groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("week"))
      .agg(count(lit(1)).as("n_orders"),
           sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("week"))
    ord(
      weekly
        .withColumn("prev", lag(col("cents"), 1).over(w))
        .select(col("week"), col("n_orders"),
                (col("cents").cast("double") / 100.0).as("revenue"),
                r4(when(col("prev").isNull || col("prev") === 0L, lit(null))
                  .otherwise((col("cents") - col("prev")).cast("double") /
                             col("prev"))).as("wow_change")),
      col("week"))
  }

  /** q_gini — revenue-concentration (Gini) coefficient of customer
    * lifetime spend: G = (2·Σᵢ i·xᵢ − (n+1)·Σx)/(n·Σx) with xᵢ sorted
    * ascending — the "do 20% of customers drive 80% of revenue"
    * readout. Ranks come from a row_number over (cents, custkey); the
    * rank·value sum is TIE-INVARIANT (equal values share a consecutive
    * rank block, and Σ rank over the block is constant however it's
    * ordered), so the statistic is deterministic without relying on
    * the tiebreak. Every term is an exact integer; ONE division, r4'd.
    *
    * Scale note: the rank runs on [[graft.functions.Dist.prefix]] —
    * range-partitioned sort + carried per-partition offsets — so the
    * per-customer rollup never funnels through one partition; bit-equal
    * to the global window by DistPrefixSpec + the oracle gate. */
  def gini(s: SparkSession, d: String): DataFrame = {
    val spend = graft.Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val ranked = graft.functions.Dist.prefix(spend, Nil,
      Seq(col("cents"), col("o_custkey")), rowNum = Some("i"))
    ranked.agg(count(lit(1)).as("n"),
               sum(col("cents")).as("t"),
               sum(col("i") * col("cents")).as("s"))
      .select(col("n"),
        Fin.r4(col("t").cast("double") / 100.0).as("total_spend"),
        Fin.r4((lit(2L) * col("s") - (col("n") + 1L) * col("t"))
          .cast("double") / (col("n") * col("t"))).as("gini"))
  }

  /** q_growth_accounting — the standard weekly growth-accounting frame:
    * per week, active users split into NEW (first week ever), RETAINED
    * (also active the immediately previous week), RESURRECTED (active
    * before, but not last week), plus CHURNED (active last week, gone
    * this week — booked to the week they went missing). The four-way
    * split every growth review runs; q_new_returning's daily new/return
    * view cannot distinguish resurrection from retention or see churn
    * at all.
    *
    * Determinism: pure integer counts over distinct (user, week) rows;
    * week = Monday-start date_trunc (identical both engines, the
    * q_period_over_period precedent).
    *
    * Scale shape: ONE distinct shuffle on (user, week), one per-user
    * lag/lead window (partitioned like sessionize), two partial-
    * aggregable weekly rollups full-outer-merged on the ≤|weeks|+1
    * frame. The week after the horizon carries the final churn row by
    * design. */
  def growthAccounting(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.Fin._
    val uw = graft.Tables.events(s, d)
      .select(col("user_id"),
              date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val cls = uw
      .withColumn("prev", lag(col("wk"), 1).over(w))
      .withColumn("next", lead(col("wk"), 1).over(w))
    val act = cls.groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
           sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
           sum(when(datediff(col("wk"), col("prev")) === 7, 1L).otherwise(0L))
             .as("n_retained"),
           sum(when(col("prev").isNotNull &&
                    datediff(col("wk"), col("prev")) > 7, 1L).otherwise(0L))
             .as("n_resurrected"))
    val churn = cls
      .filter(col("next").isNull || datediff(col("next"), col("wk")) > 7)
      .select(date_add(col("wk"), 7).as("wk"))
      .groupBy(col("wk")).agg(count(lit(1)).as("n_churned"))
    ord(
      act.join(churn, Seq("wk"), "full_outer")
        .select(col("wk"),
                coalesce(col("n_active"), lit(0L)).as("n_active"),
                coalesce(col("n_new"), lit(0L)).as("n_new"),
                coalesce(col("n_retained"), lit(0L)).as("n_retained"),
                coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
                coalesce(col("n_churned"), lit(0L)).as("n_churned")),
      col("wk"))
  }

  /** q_audience_overlap — EXACT audience Jaccard between every pair of
    * event types (shared users / union users): the exact twin of the
    * q_hll_overlap sketch, so the two rows document the exact↔sketch
    * trade directly. Zero-overlap pairs surface with jaccard 0 via the
    * generated pair spine.
    *
    * Scale shape: one distinct shuffle on (type, user); the pair
    * intersection is a self-join CO-PARTITIONED on user_id (fan-out
    * per user = distinct types that user touched, ≤|types|); per-type
    * sizes and the |types|² spine ride broadcasts. Exact distincts at
    * any scale — when |types| grows to thousands, q_hll_overlap is the
    * documented fallback. */
  def audienceOverlap(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val ut = graft.Tables.events(s, d)
      .select(col("event_type").as("t"), col("user_id"))
      .distinct()
      .shared
    val sizes = ut.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val spine = sizes.select(col("t").as("type_a"), col("n").as("n_a"))
      .crossJoin(sizes.select(col("t").as("type_b"), col("n").as("n_b")))
      .filter(col("type_a") < col("type_b"))
    val inter = ut.as("x")
      .join(ut.as("y"), col("x.user_id") === col("y.user_id") &&
                        col("x.t") < col("y.t"))
      .groupBy(col("x.t").as("type_a"), col("y.t").as("type_b"))
      .agg(count(lit(1)).as("inter"))
    ord(
      broadcast(spine).join(inter, Seq("type_a", "type_b"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
                col("inter"),
                r4(col("inter").cast("double") /
                   (col("n_a") + col("n_b") - col("inter"))).as("jaccard")),
      col("type_a"), col("type_b"))
  }

  /** q_mix_shift — two-period decomposition of the average-order-value
    * change into WITHIN-segment rate movement vs composition (mix)
    * shift, per market segment: Δ = Σ w2·(r2−r1) + Σ (w2−w1)·r1.
    * The "did the metric move, or did the mix move?" decomposition
    * (Oaxaca/mix-rate) every metrics review reaches for when a topline
    * average shifts — a Simpson's-paradox guard as a first-class
    * operator.
    *
    * Periods: the order-date range split at its midpoint, compared in
    * exact integer seconds (2·sec < mn+mx — no float midpoint).
    *
    * Determinism: n/cents are exact int64; every emitted ratio and
    * effect term is ONE identically-spelled chain of IEEE double ops
    * from those ints, r4'd once (the q_survival rule: identical
    * expression shape ⇒ identical bits).
    *
    * Scale shape: one fact-scale orders⋈customer join co-partitioned on
    * custkey, ONE partial-aggregable (segment, period) shuffle, then all
    * math on the |segments| frame with full-frame windows for totals. */
  def mixShift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = graft.Tables.orders(s, d)
      .agg(min(graft.Fin.epochSec(col("o_orderdate"))).as("mn"),
           max(graft.Fin.epochSec(col("o_orderdate"))).as("mx"))
    val o = graft.Tables.orders(s, d)
      .crossJoin(broadcast(b))
      .withColumn("p",
        when(graft.Fin.epochSec(col("o_orderdate")) * 2 < col("mn") + col("mx"),
             1).otherwise(2))
      .join(graft.Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("p"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
    val seg = o.groupBy(col("segment"))
      .agg(sum(when(col("p") === 1, 1L).otherwise(0L)).as("n1"),
           sum(when(col("p") === 1, col("cents")).otherwise(0L)).as("c1"),
           sum(when(col("p") === 2, 1L).otherwise(0L)).as("n2"),
           sum(when(col("p") === 2, col("cents")).otherwise(0L)).as("c2"))
    val full = Window.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing)
    Fin.ord(
      seg
        .withColumn("tn1", sum(col("n1")).over(full))
        .withColumn("tn2", sum(col("n2")).over(full))
        .select(col("segment"), col("n1"), col("n2"),
          Fin.r4(col("n1").cast("double") / col("tn1")).as("w1"),
          Fin.r4(col("n2").cast("double") / col("tn2")).as("w2"),
          Fin.r4(col("c1").cast("double") / col("n1") / 100.0).as("r1"),
          Fin.r4(col("c2").cast("double") / col("n2") / 100.0).as("r2"),
          Fin.r4((col("n2").cast("double") / col("tn2")) *
                 (col("c2").cast("double") / col("n2") -
                  col("c1").cast("double") / col("n1")) / 100.0)
            .as("rate_effect"),
          Fin.r4((col("n2").cast("double") / col("tn2") -
                  col("n1").cast("double") / col("tn1")) *
                 (col("c1").cast("double") / col("n1")) / 100.0)
            .as("mix_effect")),
      col("segment"))
  }

  /** q_abc_pareto — ABC (Pareto) classification of customers by lifetime
    * revenue: rank customers by exact cent spend descending, call the
    * prefix holding ≤ 80% of cumulative revenue class A, ≤ 95% class B,
    * the tail C, and report each class's customer count, revenue and
    * share — the "which 20% of customers drive 80% of revenue"
    * partition that q_gini compresses into a single coefficient (this
    * names the actual customers sets a campaign would target).
    *
    * Boundary convention (deliberate, r11 ADVICE): class boundaries
    * are EXCLUSIVE — A holds the customers whose cumulative share is
    * strictly ≤ 80%, so the customer whose row CROSSES the 80% line
    * is classed B (and likewise at the 95% line → C). The textbook
    * alternative puts the straddling customer in A ("smallest prefix
    * reaching 80%"); both engines and the oracle implement the
    * exclusive rule, and a consumer expecting the inclusive cut will
    * see exactly a one-customer shift at each boundary.
    *
    * Determinism: the cumulative sum is ordered by (cents DESC,
    * custkey) — a total order, so the running sum is unique per row —
    * and the class boundaries are decided in EXACT int64 arithmetic
    * (5·cum ≤ 4·total for the 80% line, 20·cum ≤ 19·total for 95%): no
    * double comparison ever picks a class. The only doubles are the
    * final revenue/share projections, each divided once and r4'd.
    *
    * Scale shape: one partial-aggregable rollup to |customers| rows,
    * then the running total on [[graft.functions.Dist.prefix]]'s
    * range-partitioned prefix-sum tier (the q_gini form — never a
    * single-partition sort); the 1-row total broadcasts to both
    * consumers. */
  def abcPareto(s: SparkSession, d: String): DataFrame = {
    val spend = graft.Tables.orders(s, d)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .shared // feeds the prefix tier AND the 1-row total
    val total = spend.agg(sum(col("cents")).as("total_cents"))
    val classed = graft.functions.Dist.prefix(spend, Nil,
        Seq(col("cents").desc, col("custkey")),
        cums = Seq("cum" -> col("cents")))
      .crossJoin(broadcast(total))
      .withColumn("abc_class",
        when(col("cum") * 5 <= col("total_cents") * 4, lit("A"))
          .when(col("cum") * 20 <= col("total_cents") * 19, lit("B"))
          .otherwise(lit("C")))
    Fin.ord(
      classed.groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_customers"),
             sum(col("cents")).as("class_cents"))
        .crossJoin(broadcast(total))
        .select(col("abc_class"), col("n_customers"),
                (col("class_cents").cast("double") / 100.0).as("revenue"),
                Fin.r4(col("class_cents").cast("double") / col("total_cents"))
                  .as("share")),
      col("abc_class"))
  }

  /** q_ship_lag — the order-to-ship SLA report: per order month, line
    * count, mean days from order to line shipment, and the late rate
    * (lag > 30 days) — the fulfilment-operations readout (is shipping
    * keeping up, and when did it slip) that none of the revenue
    * rollups expose.
    *
    * Determinism: lags are exact integer day differences (both sides
    * date-truncated), summed exactly; mean and rate each divide once
    * and r4. Month = date_trunc, the q_period_over_period precedent.
    *
    * Scale shape: one fact-fact join on the order key (the engine's
    * bucketed-join layout applies at 100 TB) + one partial-aggregable
    * month rollup. */
  def shipLag(s: SparkSession, d: String): DataFrame = {
    val j = graft.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
      .join(graft.Tables.orders(s, d)
              .select(col("o_orderkey"),
                      col("o_orderdate").cast("date").as("odate")),
            col("l_orderkey") === col("o_orderkey"))
      .select(date_trunc("month", col("odate")).cast("date").as("month"),
              datediff(col("ship"), col("odate")).as("lag_days"))
    Fin.ord(
      j.groupBy(col("month"))
        .agg(count(lit(1)).as("n_lines"),
             sum(col("lag_days").cast("long")).as("lag_sum"),
             sum(when(col("lag_days") > 30, 1L).otherwise(0L)).as("n_late"))
        .select(col("month"), col("n_lines"),
                Fin.r4(col("lag_sum").cast("double") / col("n_lines"))
                  .as("avg_lag_days"),
                col("n_late"),
                Fin.r4(col("n_late").cast("double") / col("n_lines"))
                  .as("late_rate")),
      col("month"))
  }

  /** q_cohort_ltv — cohorted LTV curves: per signup-week cohort and
    * weeks-since-signup, that week's revenue and the CUMULATIVE
    * revenue per cohort member — the "do newer cohorts monetize
    * faster" overlay every growth model fits. q_cohort_retention
    * tracks who comes BACK; q_ltv projects one global value; this
    * crosses them into the curve family.
    *
    * Determinism: cohort week and weeks-since are exact date/int
    * arithmetic (Monday-truncated weeks, day-diff DIV 7); revenue is
    * exact cent sums; the cumulative window orders by the unique
    * weeks_since within each cohort; one division per reported
    * double.
    *
    * Scale shape: two partial-aggregable fact rollups (first-touch
    * per user, weekly spend per user) joined on user_id — the
    * sessionize co-partitioning; the curve frame is |cohorts|×|weeks|
    * bounded, and the cohort-size frame broadcasts. */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(s, d)
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cw"))
    val weekly = ev.groupBy(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val j = weekly.join(first, "user_id")
      .select(col("cw"),
              expr("CAST(datediff(wk, cw) DIV 7 AS BIGINT)").as("ws"),
              col("cents"))
    val sizes = first.groupBy(col("cw")).agg(count(lit(1)).as("cohort_users"))
    val g = j.groupBy(col("cw"), col("ws"))
      .agg(sum(col("cents")).as("rev_cents"))
    val wcum = Window.partitionBy(col("cw")).orderBy(col("ws"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Fin.ord(
      g.withColumn("cum_cents", sum(col("rev_cents")).over(wcum))
        .join(broadcast(sizes), "cw")
        .select(col("cw").as("cohort_week"), col("ws").as("weeks_since"),
                col("cohort_users"),
                (col("rev_cents").cast("double") / 100.0).as("revenue"),
                Fin.r4(col("cum_cents").cast("double") / col("cohort_users")
                       / 100.0).as("cum_rev_per_user")),
      col("cohort_week"), col("weeks_since"))
  }

  /** q_stickiness — the DAU/MAU engagement ratio per month: mean daily
    * active users divided by monthly active users — THE habit metric
    * ("of the people who showed up this month, what fraction shows up
    * on a given day"). q_active_users counts the windows; this is the
    * ratio product teams actually track.
    *
    * Determinism: both numerator terms are exact integer distinct
    * counts (Σ over days of per-day DAU, day count, monthly MAU); the
    * mean and the ratio are ONE identically-spelled division chain,
    * r4'd.
    *
    * Scale shape: two distinct shuffles ((day, user) and
    * (month, user) — both partial-aggregable after the dedup), then
    * month rollups joined on the ≤|months| frame. */
  def stickiness(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(date_trunc("month", col("ts")).cast("date").as("month"),
              to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.select(col("month"), col("day"), col("user_id")).distinct()
      .groupBy(col("month"), col("day")).agg(count(lit(1)).as("dau"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
    val mau = ev.select(col("month"), col("user_id")).distinct()
      .groupBy(col("month")).agg(count(lit(1)).as("mau"))
    Fin.ord(
      daily.join(mau, "month")
        .select(col("month"), col("n_days"),
                Fin.r4(col("dau_sum").cast("double") / col("n_days"))
                  .as("avg_dau"),
                col("mau"),
                Fin.r4(col("dau_sum").cast("double") / col("n_days") /
                       col("mau")).as("stickiness")),
      col("month"))
  }

  /** q_top_supplier — the top-revenue supplier report (the TPC-H Q15
    * shape): revenue per supplier over one quarter (1996-Q1 ship
    * dates), return the supplier(s) holding the MAXIMUM — ties
    * included, which is the part naive LIMIT 1 gets wrong.
    *
    * Determinism: revenue is EXACT int64 throughout the comparison —
    * Σ cents(extendedprice)·(100 − pct(discount)) — so the max and
    * its tie set are engine-identical (a double Σ ep·(1−disc) could
    * flip the argmax by one ulp); the displayed revenue divides the
    * exact total by 10⁴ once, r4'd. Total order on s_suppkey.
    *
    * Scale shape: the quarter filter pushes into the fact scan; ONE
    * partial-aggregable shuffle onto |suppliers| keys; the 1-row max
    * broadcasts back onto that dimension-sized frame (no second fact
    * pass, no window); the supplier dim broadcasts for names. */
  def topSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = graft.Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_suppkey"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
         (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_e"))
      .groupBy(col("l_suppkey")).agg(sum(col("rev_e")).as("rev_e"))
    val mx = rev.agg(max(col("rev_e")).as("mx"))
    Fin.ord(
      rev.crossJoin(broadcast(mx))
        .filter(col("rev_e") === col("mx"))
        .join(broadcast(graft.Tables.supplier(s, d)),
              col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
                Fin.r4(col("rev_e").cast("double") / 10000.0).as("revenue")),
      col("s_suppkey"))
  }

  /** q_promo_share — monthly promotional-revenue share (the TPC-H Q14
    * shape): per ship month, revenue from PROMO-type parts as a
    * percentage of all revenue — the campaign-effect readout every
    * merchandising review runs.
    *
    * Determinism: both numerator and denominator are EXACT int64
    * (cents × (100 − pct), the q_top_supplier idiom) summed in the
    * same cells; the share is ONE division of two exact ints, r4'd.
    *
    * Scale shape: the |parts| dim broadcasts its (partkey, is_promo)
    * projection onto the fact scan; ONE partial-aggregable shuffle
    * onto ≤|months| keys; no second pass. */
  def promoShare(s: SparkSession, d: String): DataFrame = {
    val p = graft.Tables.part(s, d)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    Fin.ord(
      graft.Tables.lineitem(s, d)
        .select(col("l_partkey"),
                date_trunc("month", col("l_shipdate")).cast("date").as("month"),
                (expr("cast(round(l_extendedprice * 100) as bigint)") *
                 (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
                  .as("rev_e"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("month"))
        .agg(sum(when(col("is_promo"), col("rev_e")).otherwise(0L))
               .as("promo_e"),
             sum(col("rev_e")).as("total_e"))
        .select(col("month"),
                Fin.r4(col("promo_e").cast("double") / 10000.0).as("promo_rev"),
                Fin.r4(col("total_e").cast("double") / 10000.0).as("total_rev"),
                Fin.r4(lit(100.0) * col("promo_e") / col("total_e"))
                  .as("promo_share")),
      col("month"))
  }

  /** q_returns_report — the top-20 customers by RETURNED-item revenue
    * (the TPC-H Q10 shape): who is sending the most money back — the
    * customer-service escalation list, ranked by exact revenue.
    *
    * Determinism: revenue exact int64 (q_top_supplier idiom); the
    * top-20 cut orders by (rev_e DESC, custkey) — exact ints + unique
    * tiebreak, so the cut set is engine-identical; ONE terminal
    * division for display.
    *
    * Scale shape: returnflag filter pushes into the fact scan; ONE
    * partial-aggregable shuffle onto |customers| keys; TakeOrdered(20)
    * per-partition top-k — no global sort; the customer dim broadcasts
    * for names onto the 20-row frame. */
  def returnsReport(s: SparkSession, d: String): DataFrame = {
    val rev = graft.Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(graft.Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
         (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_e"))
      .groupBy(col("o_custkey")).agg(sum(col("rev_e")).as("rev_e"))
    rev
      .join(broadcast(graft.Tables.customer(s, d)
              .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
              col("rev_e"))
      .orderBy(col("rev_e").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
              Fin.r4(col("rev_e").cast("double") / 10000.0).as("returned_rev"))
  }

  /** q_first_repeat_aov — first-order vs repeat-order average order
    * value: is the first purchase bigger or smaller than later ones?
    * The acquisition-economics number (a high first/repeat ratio says
    * discounts buy one-off spikes; a low one says onboarding
    * undersells) — q_new_returning splits USERS, this splits ORDER
    * VALUE along the same axis.
    *
    * Determinism: the first order per customer is row 1 of the
    * (o_orderdate, o_orderkey)-ordered per-customer window (unique
    * tiebreak); cents exact int64; each mean divides once and the
    * ratio combines the two UNROUNDED means in one chain, r4'd
    * (§2.10 rule 8).
    *
    * Scale shape: one custkey shuffle for the rank window (the
    * sessionize shape), ONE 2-cell rollup, a 1-row output. */
  def firstRepeatAov(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val o = graft.Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
              expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .withColumn("is_first", row_number().over(w) === 1)
    Fin.ord(
      o.agg(
          sum(when(col("is_first"), 1L).otherwise(0L)).as("n_first"),
          sum(when(!col("is_first"), 1L).otherwise(0L)).as("n_repeat"),
          sum(when(col("is_first"), col("cents")).otherwise(0L)).as("s_first"),
          sum(when(!col("is_first"), col("cents")).otherwise(0L)).as("s_repeat"))
        .select(col("n_first"), col("n_repeat"),
          Fin.r4(col("s_first").cast("double") / 100.0 / col("n_first"))
            .as("aov_first"),
          Fin.r4(col("s_repeat").cast("double") / 100.0 / col("n_repeat"))
            .as("aov_repeat"),
          Fin.r4((col("s_first").cast("double") / 100.0 / col("n_first")) /
                 (col("s_repeat").cast("double") / 100.0 / col("n_repeat")))
            .as("first_over_repeat")),
      col("n_first"))
  }

  /** q_regional_revenue — revenue per nation within one region (the
    * TPC-H Q5 shape): ASIA's nations ranked by customer revenue, each
    * with its share of the regional total — the market-share report
    * over the region→nation dimension hierarchy (q_agg_rollup
    * subtotals COUNTS over the same hierarchy; this books exact
    * revenue with shares).
    *
    * Determinism: revenue exact int64 (cents × (100−pct)); the share
    * divides two exact ints once; total order on n_name.
    *
    * Scale shape: region filter prunes the broadcast nation dim to
    * ≤|nations in region| keys BEFORE the fact join, so the
    * customer→orders→lineitem chain joins against a filtered
    * broadcast; ONE partial-aggregable rollup onto ≤5 nation keys; the
    * 1-row regional total broadcasts back onto that frame. */
  def regionalRevenue(s: SparkSession, d: String): DataFrame = {
    val n = graft.Tables.nation(s, d)
      .join(graft.Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey"), col("n_name"))
    val rev = graft.Tables.customer(s, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(graft.Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(graft.Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("n_name"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
         (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_e"))
      .groupBy(col("n_name")).agg(sum(col("rev_e")).as("rev_e"))
    val tot = rev.agg(sum(col("rev_e")).as("tot_e"))
    Fin.ord(
      rev.crossJoin(broadcast(tot))
        .select(col("n_name"),
                Fin.r4(col("rev_e").cast("double") / 10000.0).as("revenue"),
                Fin.r4(lit(100.0) * col("rev_e") / col("tot_e")).as("share")),
      col("n_name"))
  }

  /** q_brand_share_trend — monthly revenue share per brand: each
    * brand's percentage of the month's total revenue over time — the
    * assortment-mix TREND (q_promo_share tracks one flag;
    * q_regional_revenue one geography at one point; this is the full
    * brand mix per month, the chart a category manager watches).
    *
    * Determinism: revenue exact int64 (cents × (100−pct)); per-month
    * totals from the SAME cells via a month-partitioned full-frame
    * window (exact int sum); ONE r4'd division.
    *
    * Scale shape: |parts| dim broadcast onto the fact scan, ONE
    * partial-aggregable shuffle onto (month, brand) cells — domain-
    * bounded — then the total window rides the ≤|months|×|brands|
    * cell frame. */
  def brandShareTrend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = graft.Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val cells = graft.Tables.lineitem(s, d)
      .select(col("l_partkey"),
              date_trunc("month", col("l_shipdate")).cast("date").as("month"),
              (expr("cast(round(l_extendedprice * 100) as bigint)") *
               (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
                .as("rev_e"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("month"), col("p_brand"))
      .agg(sum(col("rev_e")).as("rev_e"))
    val tot = Window.partitionBy(col("month"))
    Fin.ord(
      cells
        .withColumn("tot_e", sum(col("rev_e")).over(tot))
        .select(col("month"), col("p_brand"),
                Fin.r4(col("rev_e").cast("double") / 10000.0).as("revenue"),
                Fin.r4(lit(100.0) * col("rev_e") / col("tot_e")).as("share")),
      col("month"), col("p_brand"))
  }

  /** q_repeat_purchase_rate — per market segment: customers with at
    * least one order, those with TWO or more, and the repeat rate —
    * the loyalty KPI of the acquisition funnel (q_first_repeat_aov
    * prices the split; this counts WHO repeats, by segment).
    *
    * Determinism: exact integer counts; ONE r4'd rate.
    *
    * Scale shape: one |customers| order-count rollup co-partitioned
    * with the customer dim join on custkey; ≤|segments| rollup. */
  def repeatPurchaseRate(s: SparkSession, d: String): DataFrame = {
    val perCust = graft.Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    Fin.ord(
      perCust
        .join(graft.Tables.customer(s, d)
                .select(col("c_custkey"), col("c_mktsegment")),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_buyers"),
             sum(when(col("n_orders") >= 2, 1L).otherwise(0L))
               .as("n_repeat"))
        .select(col("c_mktsegment"), col("n_buyers"), col("n_repeat"),
                Fin.r4(col("n_repeat").cast("double") / col("n_buyers"))
                  .as("repeat_rate")),
      col("c_mktsegment"))
  }

  /** q_weighted_median — the QUANTITY-weighted median RETAIL price per
    * return flag: the catalog price at which half the traded VOLUME
    * sits below — the inventory-valuation number an unweighted median
    * gets wrong whenever cheap parts trade in bulk (row-median answers
    * "the middle line item"; this answers "the middle unit").
    *
    * Determinism: prices in exact cents, weights exact int64
    * quantities rolled to (flag, price) CELLS; the median is the
    * FIRST cell (price ascending) whose running weight reaches half
    * the total — 2·cumw ≥ totw decided in pure int64, no
    * interpolation, no floats until the display division.
    *
    * Scale shape: the price axis is the CATALOG's p_retailprice
    * (broadcast dim), deliberately NOT l_extendedprice — extendedprice
    * is qty·price and nearly unique per LINE, which would make the
    * cell frame fact-sized and funnel it through 3 per-flag window
    * partitions (measured 2.8 s vs 0.3 s at sf0.1). With the catalog
    * axis the cells are |flags|×|parts|-bounded: facts grow at 100 TB,
    * the price book doesn't. ONE partial-aggregable shuffle onto the
    * cells, then per-flag cumulative windows over the bounded frame
    * and a min-pick; totals ride the same frame (q_psi precedent). */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = graft.Tables.part(s, d)
      .select(col("p_partkey"),
              expr("cast(round(p_retailprice * 100) as bigint)").as("pc"))
    val cells = graft.Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"), col("l_partkey"),
              expr("cast(round(l_quantity) as bigint)").as("w"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("flag"), col("pc")).agg(sum(col("w")).as("w"))
    val cum = Window.partitionBy(col("flag")).orderBy(col("pc"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy(col("flag"))
    val marked = cells
      .withColumn("cumw", sum(col("w")).over(cum))
      .withColumn("totw", sum(col("w")).over(all))
      .filter(lit(2L) * col("cumw") >= col("totw"))
    Fin.ord(
      marked.groupBy(col("flag"))
        .agg(min(col("pc")).as("med_pc"), first(col("totw")).as("totw"))
        .select(col("flag"), col("totw").as("total_qty"),
                Fin.r4(col("med_pc").cast("double") / 100.0)
                  .as("weighted_median_price")),
      col("flag"))
  }

  /** q_user_concentration — activity concentration: the share of all
    * events generated by the top 1% / 10% / 50% most-active users —
    * the "1% rule" readout (q_gini compresses the whole curve into one
    * coefficient; this reads three named points off it, the numbers an
    * abuse/capacity review actually quotes).
    *
    * Determinism: per-user counts exact int64; users rank by
    * (events DESC, user_id) — total order; the percentile cutoffs are
    * exact integer ceilings (100·rank ≤ p·n_users decided in int64);
    * ONE r4'd division per tier.
    *
    * Scale shape: one partial-aggregable rollup to |users| rows, the
    * rank on [[graft.functions.Dist.prefix]]'s range-partitioned tier
    * (the q_gini form — no single-partition sort), a 3-row tier spine,
    * and ≤3-row output; totals ride a 1-row broadcast. */
  def userConcentration(s: SparkSession, d: String): DataFrame = {
    // persist the per-user ROLLUP (shared by the rank tier and the
    // totals — one fact scan), not the ranked frame: totals don't need
    // ranks, and a barrier above Dist would hide its windows from
    // the plan guards
    val per = graft.Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("ev"))
      .shared
    val ranked = graft.functions.Dist.prefix(per, Nil,
        Seq(col("ev").desc, col("user_id")), rowNum = Some("rank"))
    val tot = per.agg(count(lit(1)).as("n_users"),
                      sum(col("ev")).as("n_events"))
    val tiers = s.range(0, 3).select(
      element_at(array(lit(1L), lit(10L), lit(50L)),
                 (col("id") + 1).cast("int")).as("pct"))
    // a tier whose integer cutoff rounds to zero users (1% of 15) must
    // still SURFACE with zero counts — spine + left join, not inner
    val qual = broadcast(tiers).crossJoin(broadcast(tot))
      .join(ranked, lit(100L) * col("rank") <= col("pct") * col("n_users"))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("n_top"), sum(col("ev")).as("top_events"))
    Fin.ord(
      broadcast(tiers).crossJoin(broadcast(tot))
        .join(qual, Seq("pct"), "left")
        .select(col("pct"), col("n_users"),
                coalesce(col("n_top"), lit(0L)).as("n_top"),
                coalesce(col("top_events"), lit(0L)).as("top_events"),
                Fin.r4(coalesce(col("top_events"), lit(0L)).cast("double") /
                       col("n_events")).as("share")),
      col("pct"))
  }

  /** q_dead_stock — catalog coverage: per brand, how many parts never
    * traded at all, with the dead rate — the dead-stock/assortment
    * report a merchandiser runs before a catalog prune (q_join_anti
    * lists customers without orders; this books the part-side gap per
    * brand with rates).
    *
    * Determinism: exact integer counts; ONE r4'd rate.
    *
    * Scale shape: the traded-part set is ONE distinct rollup of the
    * fact's partkey column (pushed scan, no other columns read); the
    * |parts| dim anti-joins against it broadcast; per-brand rollup is
    * |brands|-bounded. */
  def deadStock(s: SparkSession, d: String): DataFrame = {
    val traded = graft.Tables.lineitem(s, d)
      .select(col("l_partkey")).distinct()
    val p = graft.Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val dead = p.join(traded, col("p_partkey") === col("l_partkey"),
                      "left_anti")
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n_dead"))
    val tot = p.groupBy(col("p_brand")).agg(count(lit(1)).as("n_parts"))
    Fin.ord(
      tot.join(dead, Seq("p_brand"), "left")
        .select(col("p_brand"), col("n_parts"),
                coalesce(col("n_dead"), lit(0L)).as("n_dead"),
                Fin.r4(coalesce(col("n_dead"), lit(0L)).cast("double") /
                       col("n_parts")).as("dead_rate")),
      col("p_brand"))
  }

  /** q_retention_curve — the pooled day-N retention curve: of all
    * users, what share was active EXACTLY N days after their first
    * activity, for N ∈ {1, 3, 7, 14} — the canonical D1/D7 retention
    * readout a product review quotes as single numbers
    * (q_cohort_retention tracks per-WEEK cohorts; this pools users
    * into one curve with day precision).
    *
    * Determinism: exact integer day arithmetic; the hit test is a
    * LEFT SEMI join on exact (user, day) keys; ONE r4'd rate per N.
    *
    * Scale shape: one distinct (user, day) shuffle (persisted,
    * three consumers), a |users| first-day rollup, a 4-row N spine
    * crossed onto it, then ONE user-co-partitioned semi join books
    * each (user, N) hit at most once; final rollup is 4 rows. */
  def retentionCurve(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val ud = graft.Tables.events(s, d)
      .select(col("user_id"),
              expr("CAST(unix_timestamp(ts) DIV 86400 AS INT)").as("day_num"))
      .distinct()
      .shared
    val first = ud.groupBy(col("user_id")).agg(min(col("day_num")).as("d0"))
    val ns = s.range(0, 4).select(
      element_at(array(lit(1), lit(3), lit(7), lit(14)),
                 (col("id") + 1).cast("int")).as("n"))
    val targets = first.crossJoin(broadcast(ns))
      .select(col("user_id"), col("n"), (col("d0") + col("n")).as("target"))
    val hits = targets.join(ud,
        targets("user_id") === ud("user_id") &&
        col("target") === col("day_num"), "left_semi")
      .groupBy(col("n")).agg(count(lit(1)).as("n_retained"))
    val tot = first.agg(count(lit(1)).as("n_users"))
    ord(
      broadcast(ns).crossJoin(broadcast(tot))
        .join(hits, Seq("n"), "left")
        .select(col("n"), col("n_users"),
                coalesce(col("n_retained"), lit(0L)).as("n_retained"),
                r4(coalesce(col("n_retained"), lit(0L)).cast("double") /
                   col("n_users")).as("retention")),
      col("n"))
  }

  /** q_return_rate — the rolling bounceback rate: per day, the share
    * of that day's active users who return within the NEXT 7 days —
    * the leading engagement indicator (retention_curve anchors on the
    * FIRST day ever; this re-anchors on every day, so a product
    * change shows up in the curve within a week).
    *
    * Determinism: exact integer day windows (1..7 ahead, exclusive of
    * day 0); returners counted via a user-co-partitioned semi join on
    * exact keys; ONE r4'd division; days are OBSERVED days and the
    * last 7 days are reported with the partial window they have (the
    * q_moving_avg stance, documented rather than trimmed).
    *
    * Scale shape: one distinct (user, day) shuffle shared by both
    * sides (persisted); the window join fans out each (user,
    * day) to ≤7 candidate return days co-partitioned on user; two
    * calendar-bounded rollups. */
  def returnRate(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val ud = graft.Tables.events(s, d)
      .select(col("user_id"),
              expr("CAST(unix_timestamp(ts) DIV 86400 AS INT)").as("day_num"))
      .distinct()
      .shared
    val ret = ud.as("a").join(ud.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("b.day_num") > col("a.day_num") &&
        col("b.day_num") <= col("a.day_num") + 7, "left_semi")
      .groupBy(col("day_num")).agg(count(lit(1)).as("n_returned"))
    val act = ud.groupBy(col("day_num")).agg(count(lit(1)).as("n_active"))
    ord(
      act.join(ret, Seq("day_num"), "left")
        .select(col("day_num"), col("n_active"),
                coalesce(col("n_returned"), lit(0L)).as("n_returned"),
                r4(coalesce(col("n_returned"), lit(0L)).cast("double") /
                   col("n_active")).as("return_rate")),
      col("day_num"))
  }

  /** q_price_elasticity — log-log price elasticity of demand per
    * brand: OLS slope of ln(quantity) on ln(price) over the brand's
    * (price, total quantity) cells — elasticity < −1 is elastic
    * (discounts buy volume), > −1 inelastic (discounts burn margin);
    * THE pricing-strategy number, estimated at the price-point level
    * (cell-level, not line-level, so the fit sees each price once
    * regardless of how many lines traded at it).
    *
    * Determinism: cells are exact (cent price, int quantity-sum)
    * rollups; ln of exact ints; the OLS sums fold in PRICE order per
    * brand (sort_array + `aggregate` ↔ list ORDER BY + list_reduce —
    * the q_heaps_law rule); slope is one identically-spelled chain,
    * r4'd, nullif-guarded for single-price brands.
    *
    * Scale shape: |parts| dim broadcast onto the fact scan, ONE
    * partial-aggregable shuffle onto (brand, price-cent) cells —
    * domain-bounded by the price book, not the fact count — then a
    * per-brand fold over ≤|prices/brand| arrays. */
  def priceElasticity(s: SparkSession, d: String): DataFrame = {
    val p = graft.Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"),
              expr("cast(round(p_retailprice * 100) as bigint)").as("pc"))
    val cells = graft.Tables.lineitem(s, d)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("pc"))
      .agg(sum(expr("cast(round(l_quantity) as bigint)")).as("qty"))
      .select(col("brand"), col("pc"),
              log(col("pc").cast("double")).as("x"),
              log(col("qty").cast("double")).as("y"))
    Fin.ord(
      cells.groupBy(col("brand"))
        .agg(count(lit(1)).as("n_cells"),
             sort_array(collect_list(struct(col("pc"), col("x"), col("y"))))
               .as("ps"))
        .withColumn("st", expr(
          """aggregate(ps,
               named_struct('sx', CAST(0.0 AS DOUBLE),
                            'sy', CAST(0.0 AS DOUBLE),
                            'sxx', CAST(0.0 AS DOUBLE),
                            'sxy', CAST(0.0 AS DOUBLE)),
               (a, p) -> named_struct('sx', a.sx + p.x, 'sy', a.sy + p.y,
                                      'sxx', a.sxx + p.x * p.x,
                                      'sxy', a.sxy + p.x * p.y))"""))
        .select(col("brand"), col("n_cells"),
          Fin.r4(expr(
            """(CAST(n_cells AS DOUBLE) * st.sxy - st.sx * st.sy) /
               nullif(CAST(n_cells AS DOUBLE) * st.sxx - st.sx * st.sx,
                      CAST(0.0 AS DOUBLE))""")).as("elasticity")),
      col("brand"))
  }

  /** q_order_size_hist — the order-size distribution: how many orders
    * have exactly N lines, with each size's share — the basket-width
    * histogram (q_market_basket mines WHICH items co-occur; this
    * counts HOW MANY) that sizes picking/packing capacity.
    *
    * Determinism: exact integer counts; ONE r4'd share division.
    *
    * Scale shape: one partial-aggregable shuffle onto |orders| keys
    * (at 100 TB: already co-partitioned if lineitem is bucketed by
    * order key — the q_join_bucketed layout), then a ≤|max size|
    * histogram rollup; the 1-row total broadcasts. */
  def orderSizeHist(s: SparkSession, d: String): DataFrame = {
    val sizes = graft.Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("order_lines"))
      .groupBy(col("order_lines")).agg(count(lit(1)).as("n_orders"))
    val tot = sizes.agg(sum(col("n_orders")).as("total"))
    Fin.ord(
      sizes.crossJoin(broadcast(tot))
        .select(col("order_lines"), col("n_orders"),
                Fin.r4(col("n_orders").cast("double") / col("total"))
                  .as("share")),
      col("order_lines"))
  }

  /** q_priority_late — late-shipment counts per order priority (the
    * TPC-H Q4 shape on this schema): orders with at least one line
    * shipped more than 90 days after the order date, counted per
    * o_orderpriority with the late rate — the fulfilment-SLA
    * escalation report (q_ship_lag profiles the lag distribution;
    * this books each order once against its priority class).
    *
    * Determinism: the 90-day cutoff compares exact dates; counts are
    * exact int64; ONE r4'd rate division.
    *
    * Scale shape: a LEFT SEMI join on the order key — the fact side
    * never fans out (an order with 7 late lines books once), nothing
    * wider than the key crosses the shuffle; then ONE
    * partial-aggregable rollup onto the ≤|priorities| frame, with the
    * total per priority from the same orders scan. */
  def priorityLate(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
              col("o_orderpriority"))
    val li = graft.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"))
    val late = o.join(li,
        col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > expr("o_orderdate + INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_late"))
    val tot = o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    Fin.ord(
      tot.join(late, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("n_orders"),
                coalesce(col("n_late"), lit(0L)).as("n_late"),
                Fin.r4(coalesce(col("n_late"), lit(0L)).cast("double") /
                       col("n_orders")).as("late_rate")),
      col("o_orderpriority"))
  }

  /** q_price_index — monthly unit-value price index vs the base
    * (first) month over MATCHED parts: for each month m, restrict to
    * parts traded in both m and the base month, then
    * index = 100 · (Σc_m · Σq_b) / (Σq_m · Σc_b) — the Drobisch
    * unit-value index, the standard "are we paying more per unit for
    * the same assortment" readout (matching removes the new/retired-
    * product mix shift that a naive revenue/quantity ratio conflates
    * with price).
    *
    * Determinism: per-(month, part) quantity and cents are exact
    * int64 rollups; the four matched sums are exact; the cross
    * products run in decimal(38,0) (19,0 × 19,0 — the q_hits idiom,
    * DuckDB HUGEINT mirrors) so the index is ONE division of two
    * exact integers, r4'd; a zero denominator (no matched quantity)
    * is NULL via nullif.
    *
    * Scale shape: ONE (month, part) partial-aggregable rollup over
    * the fact table; the base-month slice joins back on partkey
    * (co-partitioned, |parts|-bounded); the final per-month rollup is
    * |months|-sized. No window, no fact-side re-scan. */
  def priceIndex(s: SparkSession, d: String): DataFrame = {
    val mp = graft.Tables.lineitem(s, d)
      .join(graft.Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
               col("l_partkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty"),
           sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val base = mp.agg(min(col("month")).as("base_month"))
    // (r19 negative result, measured and reverted: attaching qb/cb via
    // a per-part window — max(when(month = base, ·)) over
    // partitionBy(l_partkey), filter qb IS NOT NULL — removes one mp
    // execution and 20 of 60 jobs per 5 actions, but measured SLOWER
    // at sf0.1/8c (warm min 1.43 → 1.87 s, cold 8.2 → 9.2 s): AQE
    // converts this stitch join to broadcast at runtime (the bm side
    // is base-month-only small), so the join never sorts mp, while
    // the window forces a full sort of mp by partkey. The r18 persist
    // A/B on `mp` lost the same way; the 3-execution shape stands.)
    val bm = mp.crossJoin(broadcast(base))
      .filter(col("month") === col("base_month"))
      .select(col("l_partkey").as("bk"), col("qty").as("qb"),
              col("cents").as("cb"))
    val dec = (c: Column) => c.cast("decimal(19,0)")
    Fin.ord(
      mp.join(bm, col("l_partkey") === col("bk"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_parts"),
             sum(dec(col("cents"))).cast("decimal(19,0)").as("scm"),
             sum(dec(col("qty"))).cast("decimal(19,0)").as("sqm"),
             sum(dec(col("qb"))).cast("decimal(19,0)").as("sqb"),
             sum(dec(col("cb"))).cast("decimal(19,0)").as("scb"))
        .select(col("month"), col("n_parts"),
          Fin.r4(lit(100.0) * (col("scm") * col("sqb")).cast("double") /
                 nullif((col("sqm") * col("scb")).cast("double"), lit(0.0)))
            .as("price_index")),
      col("month"))
  }

  /** q_part_adoption — catalog cold-start curve: per month, how many
    * parts shipped their FIRST lineitem that month, the cumulative
    * count, and the cumulative share of the whole part catalog — "how
    * fast does new inventory start moving", the assortment-side
    * adoption readout (q_dead_stock finds what stopped selling; this
    * tracks what STARTED). The final share < 1 gap IS the
    * never-sold tail.
    *
    * Determinism: first-ship month = month-trunc of the exact min
    * l_shipdate per part (trunc is monotone, so trunc∘min = min∘trunc
    * — spelled trunc-after-min on both engines); counts exact int64;
    * ONE r4'd division against the 1-row broadcast catalog count.
    *
    * Scale shape: one partial-aggregable min rollup keyed on partkey
    * (no fact⋈fact join — l_shipdate lives on the lineitem), one
    * ≤|months| rollup; the cumulative window runs over the
    * calendar-bounded month frame (q_moving_avg stance), and the
    * 1-row catalog frame broadcasts. */
  def partAdoption(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    import org.apache.spark.sql.expressions.Window
    val monthly = graft.Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(min(col("l_shipdate")).as("first_ship"))
      .groupBy(date_trunc("month", col("first_ship")).cast("date")
                 .as("month"))
      .agg(count(lit(1)).as("new_parts"))
    val catalog = graft.Tables.part(s, d).agg(count(lit(1)).as("n_parts"))
    val w = Window.orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord(
      monthly.crossJoin(broadcast(catalog))
        .withColumn("cum_parts", sum(col("new_parts")).over(w))
        .select(col("month"), col("new_parts"), col("cum_parts"),
                r4(col("cum_parts").cast("double") /
                   col("n_parts").cast("double")).as("cum_share")),
      col("month"))
  }

  /** q_band_migration — customer spend-band transition matrix between
    * the two calendar halves: each ordering customer's half-spend is
    * banded (none / <$1M / $1M–1.6M / ≥$1.6M — literal cent cutoffs
    * bracketing the corpus quartiles) and the H1-band × H2-band counts
    * say who moved up, who lapsed, and who appeared — the
    * customer-value flow report behind "retention" one-liners
    * (q_growth_accounting counts heads; this tracks VALUE tiers).
    *
    * Determinism: the half split is the exact integer-epoch midpoint
    * compare (2·t < mn+mx — the q_rank_corr idiom); half-spends exact
    * int64 cents; bands are literal integer compares; the share is
    * ONE r4'd division against the 1-row customer total.
    *
    * Scale shape: one partial-aggregable per-customer rollup (two
    * conditional sums in one pass), one ≤16-cell rollup; the 1-row
    * bounds and total frames broadcast; no window, no dim join. */
  def bandMigration(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val o = graft.Tables.orders(s, d)
    val b = o.agg(min(epochSec(col("o_orderdate"))).as("mn"),
                  max(epochSec(col("o_orderdate"))).as("mx"))
    val cents = round(col("o_totalprice") * 100).cast("long")
    val halves = o.crossJoin(broadcast(b))
      .groupBy(col("o_custkey"))
      .agg(sum(when(epochSec(col("o_orderdate")) * 2 < col("mn") + col("mx"),
                    cents).otherwise(0L)).as("c1"),
           sum(when(epochSec(col("o_orderdate")) * 2 >= col("mn") + col("mx"),
                    cents).otherwise(0L)).as("c2"))
    def band(c: Column): Column =
      when(c === 0L, "0_none")
        .when(c < 100000000L, "1_low")
        .when(c < 160000000L, "2_mid")
        .otherwise("3_high")
    val tot = halves.agg(count(lit(1)).as("n_total"))
    ord(
      halves
        .groupBy(band(col("c1")).as("band_h1"), band(col("c2")).as("band_h2"))
        .agg(count(lit(1)).as("n_customers"))
        .crossJoin(broadcast(tot))
        .select(col("band_h1"), col("band_h2"), col("n_customers"),
                r4(col("n_customers").cast("double") /
                   col("n_total").cast("double")).as("share")),
      col("band_h1"), col("band_h2"))
  }

  /** q_theil_index — Theil's T inequality of customer spend, DECOMPOSED
    * by market segment: per segment the spend share s_g, the
    * within-segment index T_g = (Σx·ln x)/X_g − ln(X_g/n_g), its
    * contribution s_g·T_g, and the between term s_g·ln(s_g·N/n_g) —
    * the decomposability q_gini structurally lacks (Gini's crossing
    * terms don't split): Σcontribution + Σbetween IS total inequality,
    * so the report says how much concentration lives inside segments
    * vs between them.
    *
    * Determinism: per-customer spend x exact int64 cents; the ONLY
    * per-customer double sum Σx·ln x rides the micro-integer rail
    * (round(x·ln x·10⁶) per row → exact int64 per row, decimal(38,0)
    * sum — the q_token_entropy idiom scaled for cent magnitudes;
    * DuckDB sums BIGINT into HUGEINT); every other operand is an
    * exact count/sum; T_g / share / between are identically-spelled
    * chains, nullif on empty or zero-spend segments.
    *
    * Scale shape: one partial-aggregable per-customer rollup, one
    * per-segment rollup off the broadcast customer dim, a 1-row
    * corpus frame broadcast onto the ≤|segments| result. */
  def theilIndex(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val cust = graft.Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      .join(broadcast(graft.Tables.customer(s, d)
              .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
            col("o_custkey") === col("c_custkey"))
    val g = cust.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_g"),
           sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)")
             .as("xg"),
           sum(round(col("x").cast("double") * log(col("x").cast("double")) *
                     lit(1000000.0)).cast("long").cast("decimal(38,0)"))
             .cast("decimal(38,0)").as("sl_micro"))
    val tot = g.agg(sum(col("n_g")).as("nn"),
                    sum(col("xg")).cast("decimal(38,0)").as("xx"))
    val xgD = col("xg").cast("double")
    val share = xgD / nullif(col("xx").cast("double"), lit(0.0))
    val tWithin = col("sl_micro").cast("double") / lit(1000000.0) /
      nullif(xgD, lit(0.0)) -
      log(xgD / col("n_g").cast("double"))
    ord(
      g.crossJoin(broadcast(tot))
        .select(col("segment"), col("n_g").as("n_customers"),
                r4(share).as("spend_share"),
                r4(tWithin).as("t_within"),
                r4(share * tWithin).as("contribution"),
                r4(share *
                   log(share * col("nn").cast("double") /
                       col("n_g").cast("double"))).as("between_term")),
      col("segment"))
  }

  /** q_revenue_bridge — the month-over-month revenue WATERFALL: each
    * month's revenue delta decomposed into volume effect
    * (Δqty at last month's unit price), price effect (this month's qty
    * at the unit-price change), new-part revenue and lapsed-part
    * revenue — the Laspeyres-style bridge every revenue review opens
    * with ("we're down 4%: is it units, pricing, or assortment?"),
    * which no single-axis report (q_top_movers, q_period_over_period)
    * can answer.
    *
    * Determinism: part-month qty/cents exact int64; the per-part
    * volume/price effects are the ONLY doubles and ride the
    * micro-integer rail (round(effect·10⁶) per row → exact int64,
    * decimal(38,0)/HUGEINT month sums — the q_theil_index idiom);
    * new/lapsed revenue and the total delta are EXACT cents; months
    * are calendar-truncated dates, next-month = add_months (both
    * engines first-of-month exact). Identity: vol + price + new −
    * lapsed = total delta up to the micro quantum.
    *
    * Scale shape: one partial-aggregable (month, part) rollup; the
    * bridge is a self FULL join keyed on (month, part) — shuffle
    * bounded by |parts|·|months| DIMENSION cells, never lineitems;
    * the monthly revenue frames are |months| rows; no window, no
    * collect. */
  def revenueBridge(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val pm = graft.Tables.lineitem(s, d)
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
                 .as("month"),
               col("l_partkey").as("pk"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("q"),
           sum(round(col("l_extendedprice") * 100).cast("long")).as("c"))
    val cur = pm.select(col("month"), col("pk"),
                        col("q").as("q1"), col("c").as("c1"))
    val prev = pm.select(add_months(col("month"), 1).as("month"), col("pk"),
                         col("q").as("q0"), col("c").as("c0"))
    val j = cur.join(prev, Seq("month", "pk"), "full_outer")
    val unit0 = col("c0").cast("double") / col("q0")
    val ve = (col("q1") - col("q0")).cast("double") * unit0
    val pe = col("q1").cast("double") *
      (col("c1").cast("double") / col("q1") - unit0)
    val matched = col("q1").isNotNull && col("q0").isNotNull
    val eff = j.select(col("month"),
        when(matched, round(ve * lit(1000000.0)).cast("long"))
          .otherwise(0L).as("ve_micro"),
        when(matched, round(pe * lit(1000000.0)).cast("long"))
          .otherwise(0L).as("pe_micro"),
        when(col("q0").isNull, col("c1")).otherwise(0L).as("new_c"),
        when(col("q1").isNull, col("c0")).otherwise(0L).as("lapsed_c"),
        when(matched, 1L).otherwise(0L).as("is_m"),
        when(col("q0").isNull, 1L).otherwise(0L).as("is_n"),
        when(col("q1").isNull, 1L).otherwise(0L).as("is_l"),
        // monthly revenue totals derived IN the bridge rollup (r18):
        // each (month, pk) cell of pm appears exactly once on the cur
        // side of the full outer (and its shifted copy once on the
        // prev side), so Σ c1 per month ≡ mrev and Σ c0 ≡ mrev at the
        // prior month — the two extra lineitem rollups and their month
        // joins the old plan ran are redundant recomputation
        coalesce(col("c1"), lit(0L)).as("c1n"),
        coalesce(col("c0"), lit(0L)).as("c0n"))
      .groupBy(col("month"))
      .agg(sum(col("ve_micro").cast("decimal(38,0)"))
             .cast("decimal(38,0)").as("ve_s"),
           sum(col("pe_micro").cast("decimal(38,0)"))
             .cast("decimal(38,0)").as("pe_s"),
           sum(col("new_c")).as("new_s"), sum(col("lapsed_c")).as("lap_s"),
           sum(col("is_m")).as("n_matched"), sum(col("is_n")).as("n_new"),
           sum(col("is_l")).as("n_lapsed"),
           sum(col("c1n")).as("rev"), sum(col("c0n")).as("rev_prev"))
    ord(
      // the old inner joins against mrev/mprev kept exactly the months
      // with ≥1 current-month part AND ≥1 prior-month part; the flag
      // sums reproduce that membership bit-for-bit
      eff.filter(col("n_matched") + col("n_new") > 0 &&
                 col("n_matched") + col("n_lapsed") > 0)
        .select(col("month"), col("n_matched"), col("n_new"),
          col("n_lapsed"),
          r4(col("ve_s").cast("double") / 1000000.0 / 100.0)
            .as("volume_effect"),
          r4(col("pe_s").cast("double") / 1000000.0 / 100.0)
            .as("price_effect"),
          r4(col("new_s").cast("double") / 100.0).as("new_revenue"),
          r4(-col("lap_s").cast("double") / 100.0).as("lapsed_revenue"),
          r4((col("rev") - col("rev_prev")).cast("double") / 100.0)
            .as("total_delta")),
      col("month"))
  }

  /** q_hhi — Herfindahl–Hirschman brand-concentration index per
    * region: HHI = Σ_brands share² with the effective-brand count
    * 1/HHI — the market-concentration standard (an HHI over 0.25 is
    * what a competition review calls "highly concentrated"), the
    * MARKET-share complement to q_gini/q_theil_index's customer-side
    * inequality.
    *
    * Determinism: region-brand revenue exact int64 cents; Σc² rides
    * decimal(38,0)/HUGEINT (a 10¹²-cent brand squares past int64), so
    * HHI = Σc²/C² is ONE double division of exact operands — no
    * per-brand double share sum to order; 1/HHI nullif-guarded.
    *
    * Scale shape: fact rollup onto ≤|regions|·|brands| cells with the
    * three dims broadcast; one region rollup; no window. */
  def hhi(s: SparkSession, d: String): DataFrame = {
    import graft.Fin._
    val cells = graft.Tables.lineitem(s, d)
      .join(graft.Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(graft.Tables.customer(s, d)
              .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(graft.Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(graft.Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(graft.Tables.part(s, d)
              .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
      .groupBy(col("r_name").as("region"), col("p_brand"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
             .as("c"))
    val g = cells.groupBy(col("region"))
      .agg(count(lit(1)).as("n_brands"),
           sum(col("c")).as("total_c"),
           sum(dec(col("c")) * dec(col("c"))).cast("decimal(38,0)")
             .as("c2"))
    val hhiCol = col("c2").cast("double") /
      nullif(col("total_c").cast("double") *
             col("total_c").cast("double"), lit(0.0))
    ord(
      g.select(col("region"), col("n_brands"),
               r4(col("total_c").cast("double") / 100.0).as("revenue"),
               r4(hhiCol).as("hhi"),
               r4(lit(1.0) / nullif(hhiCol, lit(0.0)))
                 .as("effective_brands")),
      col("region"))
  }
}
