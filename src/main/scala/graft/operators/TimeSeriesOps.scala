package graft.operators

import graft.{Fin, Tables}
import graft.Iter.IterOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics over the events stream: spine-based gap filling
  * with forward fill, z-score anomaly flagging, and a deterministic A/B
  * experiment readout (SURVEY.md §2 — sessionized-analytics family).
  *
  * Scale notes (100 TB):
  *  - the hourly rollup is one partial-aggregable shuffle on
  *    (event_type, hour); the date spine is generated (sequence +
  *    explode) from a 1-row bounds frame and broadcast-joined — rows =
  *    |types| × |hours|, independent of event volume;
  *  - forward fill is a window per series key (event_type), never a
  *    global unpartitioned window; at 100 TB the series key set grows
  *    (per metric/tenant) while each partition stays a bounded
  *    time-ordered run;
  *  - the A/B split is a deterministic md5 hash gate (same idiom as
  *    q_sample_stratified) — re-runs assign identically, no RNG state;
  *  - all flags/ratios follow the hash-safe determinism rules: compare
  *    and divide on round(·,4) values or exact integer counts only.
  */
object TimeSeriesOps {
  import Fin._

  /** The order-side day grain every single-series revenue report reads:
    * per order day (`day_num`, the INT epoch day) the order count
    * `n_orders` and the revenue `cents`, summed in exact int64 cents.
    *
    * Scale shape: one partial-aggregable shuffle reduces the order fact
    * to ≤|calendar days| rows, and every window, fold or self-join a
    * report runs afterwards sees only that frame — an unpartitioned
    * window over it is bounded by calendar cardinality, never by data
    * volume. Days with no orders are absent: reports window and count
    * over OBSERVED days (a RANGE frame on `day_num` honors calendar
    * gaps). The frame is lazy, never shared: the optimizer prunes the
    * measure a report does not read (q_rsi plans no count, q_hurst
    * reads no price), so each report costs what its own hand-written
    * rollup would. */
  private def dailyOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS INT)")
        .as("day_num"))
      .agg(count(lit(1)).as("n_orders"),
           sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))

  /** [[dailyOrders]]' revenue with a dense 1-based day rank `rn`: the
    * input of every single-series ordered fold (q_holt_winters, q_macd,
    * q_kalman_filter, q_page_hinkley). The fold state is O(1) over the
    * ≤|calendar days| ranked rows; at 100 TB only the rollup grows. */
  private def dailyRevSeq(daily: DataFrame): DataFrame =
    daily.select(col("cents"),
      row_number().over(Window.orderBy(col("day_num"))).cast("int").as("rn"))

  /** The event-side day grain: per `to_date(ts)` day the summed event
    * value in exact int64 cents — the same one-shuffle,
    * calendar-bounded shape as [[dailyOrders]]. Callers that read the
    * frame more than once wrap it at the call site (`.iterCut(true)`
    * or `.shared`) so the scan does not re-run per leg. */
  private def dailyEventCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))

  /** q_gap_fill — hourly event counts per type on a complete hour spine
    * (missing hours surface as n_events = 0), with the per-type average
    * value forward-filled across gaps (`last value IGNORE NULLS`). */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"), col("value"))
    // avg(value) is a GUARANTEED .00005 rounding-tie factory: value is
    // cent-precision, so cents/(100·n) lands exactly on x.xxxx5 and the
    // engines' round() break that tie oppositely (Spark HALF_UP on the
    // binary expansion, DuckDB on scaled floats). Fix: perform the
    // half-up rounding IN INTEGER ARITHMETIC — round4(N/D) =
    // (2·10⁴·N + D) div (2·D) — then divide by 10⁴ once; both engines
    // then compute the identical double from identical integers.
    val hourly = e.groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"),
           sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("av",
        expr("(20000 * cents + 100 * n) DIV (200 * n)").cast("double") / lit(10000.0))
    val hours = e.agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(explode(expr("sequence(mn, mx, interval 1 hour)")).as("hr"))
    val types = e.select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(hours))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    ord(
      spine.join(hourly, Seq("event_type", "hr"), "left")
        .select(col("event_type"), epochSec(col("hr")).as("hr_sec"),
                coalesce(col("n"), lit(0L)).as("n_events"), col("av").as("avg_value"))
        .withColumn("filled_avg", last(col("avg_value"), ignoreNulls = true).over(
          Window.partitionBy(col("event_type")).orderBy(col("hr_sec")))),
      col("event_type"), col("hr_sec"))
  }

  /** q_anomaly — daily event volume z-scores: every day scored against
    * the corpus mean/stddev of daily counts, flagged when the ROUNDED
    * |z| exceeds 1.5 (the threshold compares r4 values so the flag can
    * never flip on cross-engine float noise). */
  def anomaly(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"))
    ord(
      daily.crossJoin(broadcast(stats))
        .withColumn("z", r4((col("n") - col("mu")) / col("sd")))
        .select(col("day"), col("n").as("n_events"), col("z"),
                when(abs(col("z")) > 1.5, 1).otherwise(0).as("is_anomaly")),
      col("day"))
  }

  /** q_ab_test — deterministic 50/50 user split (md5 hash parity), with
    * time-to-convert conversion (first purchase within 24h of the
    * user's first event — "did they buy on day one") per arm and the
    * pooled two-proportion z statistic. One summary row; every double
    * derives from exact integer counts via the same IEEE ops on both
    * engines, rounded once; the z guard compares p·(1−p) to exact zero
    * so a degenerate arm yields NULL identically on both sides. */
  def abTest(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(epochSec(col("ts"))).as("first_sec"),
           min(when(col("event_type") === "purchase", epochSec(col("ts"))))
             .as("first_purch"))
      .withColumn("conv",
        when(col("first_purch").isNotNull &&
             col("first_purch") - col("first_sec") <= 86400, 1).otherwise(0))
      .withColumn("variant",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0, "A")
          .otherwise("B"))
    val arms = users.agg(
      sum(when(col("variant") === "A", 1).otherwise(0)).as("n_a"),
      sum(when(col("variant") === "A", col("conv")).otherwise(0)).as("conv_a"),
      sum(when(col("variant") === "B", 1).otherwise(0)).as("n_b"),
      sum(when(col("variant") === "B", col("conv")).otherwise(0)).as("conv_b"))
    // An empty arm (possible on a tiny or skew-filtered slice) yields
    // NULL rates, never an ANSI divide-by-zero — mirrored in the oracle.
    arms
      .withColumn("cr_a",
        when(col("n_a") === 0, lit(null)).otherwise(col("conv_a") / col("n_a")))
      .withColumn("cr_b",
        when(col("n_b") === 0, lit(null)).otherwise(col("conv_b") / col("n_b")))
      .withColumn("p", (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b")))
      .select(col("n_a"), col("conv_a"), r4(col("cr_a")).as("cr_a"),
              col("n_b"), col("conv_b"), r4(col("cr_b")).as("cr_b"),
              r4(col("cr_a") - col("cr_b")).as("lift"),
              when(col("p") * (lit(1.0) - col("p")) === 0.0, lit(null))
                .otherwise(
                  r4((col("cr_a") - col("cr_b")) /
                     sqrt(col("p") * (lit(1.0) - col("p")) *
                          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))))
                .as("z"))
  }

  /** q_moving_avg — 7-day trailing moving average of daily order
    * revenue: per order day, the order count, the day's revenue, and
    * the average daily revenue over the trailing 7-day window (days
    * with no orders simply don't contribute — the frame is RANGE-based
    * on the integer day number, so calendar gaps are honored).
    *
    * Scale shape: the window runs on [[dailyOrders]] (a per-key series
    * would partition the window by key). Determinism: revenue is summed in exact integer cents; the moving
    * average is rounded IN INTEGER ARITHMETIC (the gap-fill
    * round4(N/D) = (2·10⁴N + D) div 2D trick) because cents/(100·n)
    * lands exactly on half-up ties that engines break oppositely. */
  def movingAvg(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    ord(
      daily
        .withColumn("c7", sum(col("cents")).over(w))
        .withColumn("n7", count(lit(1)).over(w))
        .select(col("day_num"), col("n_orders"),
                (col("cents").cast("double") / 100.0).as("revenue"),
                (expr("(20000 * c7 + 100 * n7) DIV (200 * n7)").cast("double") /
                  lit(10000.0)).as("ma7"),
                col("n7").cast("int").as("days_in_window")),
      col("day_num"))
  }

  /** q_autocorr — lag-k autocorrelation (k = 1, 2, 3) of the daily
    * event-count series: the seasonality probe behind q_anomaly's
    * threshold choice (a strong lag-7 says "compare to last week, not
    * to the corpus mean").
    *
    * Scale shape: the series is the DAILY ROLLUP — one partial-
    * aggregable shuffle reduces the stream to ≤|calendar days| rows;
    * the lag alignment is a self-join on (day + k), co-partitioned and
    * calendar-bounded, never a window over raw events. `corr` is an
    * algebraic single-pass aggregate on both engines; the counts it
    * sees are exact integers, so the r4'd result is stable. */
  def autocorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("CAST(unix_timestamp(ts) DIV 86400 AS INT)").as("day_num"))
      .agg(count(lit(1)).as("n"))
    val lags = s.range(1, 4).select(col("id").cast("int").as("lag_k"))
    ord(
      daily.as("a")
        .crossJoin(broadcast(lags))
        .join(daily.as("b"), col("a.day_num") === col("b.day_num") + col("lag_k"))
        .groupBy(col("lag_k"))
        .agg(count(lit(1)).as("n_pairs"),
             r4(corr(col("a.n").cast("double"), col("b.n").cast("double")))
               .as("autocorr")),
      col("lag_k"))
  }

  /** q_seasonality — the GA traffic-heatmap report: event volume and
    * summed value per (ISO day-of-week, UTC hour) cell. Both axes are
    * derived with pure integer arithmetic on epoch seconds (1970-01-01
    * was a Thursday, hence the +3 offset) — no engine-specific dow/hour
    * function whose week-start convention could differ from the oracle.
    *
    * Scale shape: one partial-aggregable shuffle onto a ≤168-row key
    * space — the map-side combine reduces any event volume to 7×24
    * partial rows per task. */
  def seasonality(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(
      ((expr("unix_timestamp(ts) DIV 86400") + 3) % 7 + 1).as("dow_iso"),
      (expr("unix_timestamp(ts) DIV 3600") % 24).as("hour_utc"),
      col("value"))
    ord(
      e.groupBy(col("dow_iso"), col("hour_utc"))
        .agg(count(lit(1)).as("n_events"),
             r4(sum(col("value"))).as("sum_value")),
      col("dow_iso"), col("hour_utc"))
  }

  /** q_changepoint — CUSUM shift detection over the daily event count
    * series: per day, the cumulative deviation from the corpus mean.
    * The peak |cusum| day is the most likely level-shift point. The
    * cusum at day t algebraically equals (D·prefix_t − t·total)/D with
    * prefix/total/D all exact integers, so the single double division
    * is computed from identical operands on both engines — the mean is
    * never materialized as a rounded intermediate.
    *
    * Scale shape: the unpartitioned ordered window runs on the DAILY
    * ROLLUP (≤|calendar days| rows — the q_moving_avg precedent), never
    * on the fact table; the rollup itself is one partial-aggregable
    * shuffle. */
  def changepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(ts) DIV 86400").as("day_num"))
      .agg(count(lit(1)).as("n_events"))
    val tot = daily.agg(sum(col("n_events")).as("total"),
                        count(lit(1)).as("n_days"))
    val w = Window.orderBy(col("day_num"))
    ord(
      daily.crossJoin(broadcast(tot))
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("prefix",
          sum(col("n_events")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("day_num"), col("n_events"),
          r4((col("n_days") * col("prefix") - col("t") * col("total"))
            .cast("double") / col("n_days")).as("cusum")),
      col("day_num"))
  }

  /** q_cuped — CUPED variance reduction for the A/B readout (the
    * industry-standard pre-experiment covariate adjustment): users split
    * 50/50 on user_id parity, the corpus time-midpoint splits each
    * user's spend into a pre-period covariate X and post-period metric
    * Y, and θ = cov(X,Y)/var(X) shrinks Y to Y − θ(X − mean(X)). One
    * summary row: the naive arm difference, the CUPED-adjusted
    * difference, and the variance-reduction ratio ρ².
    *
    * Determinism: X and Y are exact integer cents, so every moment
    * (ΣX, ΣY, ΣXY, ΣX², ΣY²) is an exact integer long — the order the
    * partials merge in cannot change a bit. θ and the adjusted means
    * are then assembled from those scalars with the same IEEE formula
    * on both engines and rounded once. At 100 TB the moments move to
    * decimal(38,0) (Σcents² overflows long past ~10⁵ users × 10⁶-cent
    * spenders); the shape — one per-user aggregate, one global moment
    * aggregate — is unchanged. */
  def cuped(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val mid = e.agg(min(epochSec(col("ts"))).as("mn"),
                    max(epochSec(col("ts"))).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid_sec"))
    val cents = round(col("value") * 100).cast("long")
    val users = e.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(epochSec(col("ts")) < col("mid_sec"), cents)
             .otherwise(0L)).as("x"),
           sum(when(epochSec(col("ts")) >= col("mid_sec"), cents)
             .otherwise(0L)).as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val m = users.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy1"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx1"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy0"),
      sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx0"))
    // all in cents → dollars at the end; var(X)=0 (degenerate pre-period)
    // yields NULL adjusted columns identically on both engines
    m.withColumn("covxy",
        (col("sxy").cast("double") - col("sx").cast("double") *
          col("sy").cast("double") / col("n")) / col("n"))
      .withColumn("varx",
        (col("sxx").cast("double") - col("sx").cast("double") *
          col("sx").cast("double") / col("n")) / col("n"))
      .withColumn("theta",
        when(col("varx") === 0.0, lit(null))
          .otherwise(col("covxy") / col("varx")))
      .withColumn("diff_naive",
        col("sy1").cast("double") / col("n1") -
          col("sy0").cast("double") / col("n0"))
      .withColumn("diff_cuped",
        col("diff_naive") - col("theta") *
          (col("sx1").cast("double") / col("n1") -
           col("sx0").cast("double") / col("n0")))
      .select(col("n"), col("n1"), col("n0"),
        r4(col("theta")).as("theta"),
        r4(col("diff_naive") / lit(100.0)).as("diff_naive"),
        r4(col("diff_cuped") / lit(100.0)).as("diff_cuped"))
  }

  /** q_srm — sample-ratio-mismatch check for the A/B split: the guard
    * every experimentation platform runs BEFORE reading a result,
    * because a biased assignment invalidates q_ab_test/q_cuped no
    * matter how significant they look. Uses q_ab_test's exact md5
    * hash-parity split; χ² for the 2-cell 50/50 design reduces to
    * (n_a − n_b)²/(n_a + n_b) — exact integer numerator and
    * denominator, one division, r4'd; the flag compares the ROUNDED χ²
    * to the 3.8415 critical value (p<0.05, df=1) so it can never flip
    * on float noise.
    *
    * Scale shape: one distinct-users shuffle and a 1-row aggregate. */
  def srm(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d).select(col("user_id")).distinct()
      .withColumn("variant",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0,
             "A").otherwise("B"))
    users.agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        r4(((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / (col("n_a") + col("n_b"))).as("chi2"))
      .withColumn("srm_flag",
        when(col("chi2") > 3.8415, 1).otherwise(0))
  }

  /** q_ks_test — two-sample Kolmogorov–Smirnov statistic between the
    * A/B arms' per-user spend distributions: D = max |F_A − F_B| over
    * observed values, with the α=0.05 rejection threshold. The
    * distribution-shape complement to q_ab_test's rate compare and
    * q_cuped's mean shift — it catches "same mean, different shape".
    *
    * Determinism: the max runs over EXACT integers — at each distinct
    * spend value, |cumA·n_B − cumB·n_A| (cross-multiplied CDFs) — and
    * only the winning integer is divided and rounded once; the flag
    * compares r4'd values. The ordered window runs on the DISTINCT-
    * VALUE rollup; at 100 TB the CDF would be computed on quantile-
    * binned values (the standard approximation) — the exact form here
    * is the oracle-checkable contract. */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val byVal = users.groupBy(col("cents"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("ca"),
           sum(when(col("arm") === 0, 1L).otherwise(0L)).as("cb"))
    val tot = users.agg(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nb"))
    val d0 = graft.functions.Dist.prefix(byVal, Nil, Seq(col("cents")),
        cums = Seq("cuma" -> col("ca"), "cumb" -> col("cb")))
      .crossJoin(broadcast(tot))
      .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
        .as("num"))
    d0.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        r4(col("num").cast("double") / (col("na") * col("nb"))).as("ks_d"),
        r4(lit(1.358) * sqrt((col("na") + col("nb")).cast("double") /
           (col("na") * col("nb")))).as("crit_05"))
      .withColumn("reject", when(col("ks_d") > col("crit_05"), 1).otherwise(0))
  }

  /** q_time_to_convert — GA's "time lag" report: for every user whose
    * first purchase is at or after their first view, the whole-hour lag
    * between the two, bucketed into an hours histogram. (The
    * strictly-ordered multi-step variant is q_funnel; this is the
    * marketing-latency distribution.)
    *
    * Scale shape: ONE per-user aggregate computes both firsts
    * (conditional mins over exact epoch seconds); the histogram is a
    * second partial-aggregable shuffle on the tiny hour-bucket key.
    * All arithmetic is integral — no float anywhere. */
  def timeToConvert(s: SparkSession, d: String): DataFrame = {
    val firsts = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", epochSec(col("ts"))))
             .as("first_view"),
           min(when(col("event_type") === "purchase", epochSec(col("ts"))))
             .as("first_purch"))
      .filter(col("first_view").isNotNull && col("first_purch").isNotNull &&
              col("first_purch") >= col("first_view"))
    ord(
      firsts
        .groupBy(expr("(first_purch - first_view) DIV 3600")
          .as("hours_to_convert"))
        .agg(count(lit(1)).as("n_users")),
      col("hours_to_convert"))
  }

  /** q_trend_ewma — exponentially-weighted trailing average of daily
    * revenue per order priority: a day Δ days back weighs 2^(8−Δ),
    * truncated at Δ = 8 (the dropped tail mass is < 2⁻⁹ of the total —
    * a defined operator semantic, not an approximation knob). The
    * dyadic weights are EXACT integers (`1 << (8−Δ)`) in both engines;
    * the usual α^Δ via libm `pow` would ride engine-dependent ulp error
    * straight into the rounding tie.
    *
    * Scale shape: the series is the DAILY ROLLUP per priority — one
    * partial-aggregable shuffle reduces the fact table to
    * |priorities| × |days| rows. The trailing window is realized as an
    * OFFSET EQUI-JOIN (each day probes day−Δ for Δ = 0..8 via a 9-row
    * broadcast) — pure equi-keys, calendar-bounded ×9 fan-out, no range
    * window needed. A windowed formulation could not express the
    * distance-dependent weight anyway: a frame sums f(row), and the
    * weight depends on (current − row). All arithmetic is integral
    * until ONE final division, rounded half-up in integer arithmetic
    * (round4(N/(100·D)) = (200·N + D) div (2·D) — the movingAvg trick)
    * because weighted cents over dyadic sums land exactly on .00005
    * ties. Weight-sum overflow bound: 2⁸ · window cents · 9 days stays
    * far under 2⁶³ even at 1000× the sf0.1 daily volume. */
  def trendEwma(s: SparkSession, d: String): DataFrame = {
    // persisted: the rollup feeds BOTH sides of the offset join
    // — without it the fact scan + daily aggregate run twice
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
               expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS INT)")
                 .as("day_num"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .shared
    val offs = s.range(0, 9).select(col("id").cast("int").as("off"))
    val w = expr("shiftleft(1L, 8 - off)")
    ord(
      daily.as("a").crossJoin(broadcast(offs))
        .join(daily.as("b"),
              col("b.priority") === col("a.priority") &&
              col("b.day_num") === col("a.day_num") - col("off"))
        .groupBy(col("a.priority"), col("a.day_num"), col("a.cents"))
        .agg(sum(w * col("b.cents")).as("nsum"),
             sum(w).as("dsum"),
             count(lit(1)).as("n_days"))
        .select(col("priority"), col("day_num"),
                (col("cents").cast("double") / 100.0).as("revenue"),
                (expr("(200 * nsum + dsum) DIV (2 * dsum)").cast("double") /
                  lit(10000.0)).as("ewma"),
                col("n_days").cast("int").as("n_days")),
      col("priority"), col("day_num"))
  }

  /** q_forecast_daily — seasonal-naive forecast: project the next 7
    * calendar days of event revenue as the mean revenue of the SAME
    * WEEKDAY over the observed history (the "expected traffic" readout
    * every analytics surface ships before anything fancier; the
    * standard baseline any real model must beat).
    *
    * Scale shape: ONE partial-aggregable pass over the fact scan
    * (7 weekday groups — sum + distinct-day count per group); the
    * 7-row horizon explodes from a 1-row max-day aggregate and
    * broadcast-joins the 7-row means. Nothing downstream of the scan
    * depends on event volume.
    *
    * Determinism: the mean divides RAW aggregates once and r4's the
    * quotient (never averages pre-rounded values — the §2.10 trap);
    * weekday numbering is pinned Monday=0 on both engines (Spark
    * `weekday`, DuckDB `isodow - 1`). */
  /** q_chisq — χ² test of independence on the weekday × event-type
    * contingency table: does traffic MIX shift across the week
    * (seasonality of composition, not volume — the latter is
    * q_seasonality's). Emits the full contingency table with expected
    * counts and per-cell contributions, plus the table-wide χ² and
    * degrees of freedom on every row.
    *
    * Determinism: observed counts are exact integers; expected =
    * row·col/N divides exact integers once per cell (same expression
    * shape both engines); contributions and the windowed total are
    * r4'd — the q_psi summation pattern.
    *
    * Scale shape: [[contingency]]. */
  def chisq(s: SparkSession, d: String): DataFrame = {
    val (cells, dims) = contingency(s, d)
    val full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ord(
      cells.crossJoin(broadcast(dims))
        .select(col("wd").cast("int").as("wd"), col("event_type"), col("n"),
                r4(col("e")).as("expected"), r4(col("contrib")).as("contrib"),
                r4(sum(col("contrib")).over(full)).as("chi2"),
                ((col("nr") - 1) * (col("nc") - 1)).as("dof")),
      col("wd"), col("event_type"))
  }

  /** The weekday × event-type contingency table of q_chisq and
    * q_cramers_v: per (wd, event_type) cell the observed count `n`, its
    * row, column and table totals `rt`/`ct`/`tot`, the expected count
    * `e` = rt·ct/tot and the χ² contribution `contrib` = (n − e)²/e;
    * beside it the 1-row `dims` frame (`nr`, `nc`) = the number of
    * weekdays and of types present. Weekday numbering is pinned
    * Monday=0 on both engines (the q_forecast_daily rule).
    *
    * Scale shape: ONE partial-aggregable (weekday, type) count
    * shuffle; every window and `dims` run over the ≤7·|types| cell
    * frame. `dims` counts keys as size(collect_set(·)), which holds
    * every distinct key in memory and is acceptable ONLY because this
    * frame holds ≤7·|types| rows; two countDistincts would plan an
    * Expand whose projection order follows per-JVM expression ids. */
  private def contingency(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cells = Tables.events(s, d)
      .groupBy(expr("weekday(ts)").as("wd"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byRow = Window.partitionBy(col("wd"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byCol = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dims = cells.agg(size(collect_set(col("wd"))).cast("long").as("nr"),
                         size(collect_set(col("event_type"))).cast("long").as("nc"))
    val t = cells
      .withColumn("rt", sum(col("n")).over(byRow))
      .withColumn("ct", sum(col("n")).over(byCol))
      .withColumn("tot", sum(col("n")).over(full))
      .withColumn("e", (col("rt") * col("ct")).cast("double") / col("tot"))
      .withColumn("contrib",
        (col("n") - col("e")) * (col("n") - col("e")) / col("e"))
    (t, dims)
  }

  /** q_survival — Kaplan–Meier retention curve over user lifetimes:
    * duration = days between a user's first and last event; a user
    * whose last activity predates the corpus high-water mark by > 7
    * days is an observed churn, otherwise right-CENSORED (still
    * alive when observation ended) — the distinction that makes KM
    * correct where a naive "% still active after t days" overstates
    * churn. S(t) = Π_{s≤t} (1 − d_s/n_s) over the ordered distinct
    * durations, computed as exp(Σ ln(1−d/n)) with an explicit
    * absorbing zero once a risk set empties (Spark ln(0) is NULL,
    * DuckDB −inf — the guard keeps both engines off that edge).
    *
    * Determinism: risk counts are exact integers; each ln term is the
    * same expression shape both engines; survival r4's once per row.
    *
    * Scale shape: one per-user rollup (the only fact-scale shuffle),
    * then all windows run over DISTINCT DURATIONS (calendar-bounded).
    * The 1-row high-water mark broadcasts into the rollup — the
    * q_freshness idiom. */
  def survival(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
    val hwm = ev.agg(max(col("day")).as("maxd"))
    val users = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("fd"), max(col("day")).as("ld"))
      .crossJoin(broadcast(hwm))
      .select(datediff(col("ld"), col("fd")).as("t"),
              when(datediff(col("maxd"), col("ld")) > 7, 1L).otherwise(0L)
                .as("churn"))
    val byT = users.groupBy(col("t"))
      .agg(count(lit(1)).as("leave"), sum(col("churn")).as("d"))
      .withColumn("c", col("leave") - col("d"))
    val before = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)
    val full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val curve = byT
      .withColumn("n_risk",
        sum(col("leave")).over(full) -
          coalesce(sum(col("leave")).over(before), lit(0L)))
      .withColumn("term",
        when(col("d") < col("n_risk"),
             log(lit(1.0) - col("d").cast("double") / col("n_risk")))
          .otherwise(lit(0.0)))
      .withColumn("dead",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(upto))
      .withColumn("survival",
        when(col("dead") === 1, lit(0.0))
          .otherwise(r4(exp(sum(col("term")).over(upto)))))
    ord(
      curve.select(col("t"), col("n_risk"), col("d").as("n_churn"),
                   col("c").as("n_censored"), col("survival")),
      col("t"))
  }

  /** q_mann_whitney — Mann–Whitney U rank-sum test between the A/B
    * arms' per-user spend distributions: the NONPARAMETRIC complement
    * to q_ab_test's proportion z-test and q_cuped's mean shift — it
    * detects a location shift without assuming normality, which spend
    * distributions (heavy-tailed, zero-inflated) never satisfy. Same
    * md5 arm assignment as q_ab_test/q_srm, so the three readouts
    * describe one experiment.
    *
    * Determinism: the entire rank computation is INTEGER arithmetic on
    * exact cents — ties get average ranks via 2·rank (2·cum_before +
    * t + 1, always integral), the rank-sum is Σ ca·2r, and the tie
    * correction Σ(t³−t) is exact; only the final z divides and rounds
    * once. The normal approximation (valid for n ≳ 20/arm) is the
    * standard large-sample form — at 100 TB exactness of the null
    * distribution is never the binding constraint, the CDF windows are.
    *
    * Scale shape: one partial-aggregable shuffle to per-user spend,
    * one to distinct-value tie counts, a 1-row total broadcast, and a
    * single ordered window over DISTINCT VALUES (bounded by the value
    * domain, not the user count). */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .withColumn("arm",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0,
             1).otherwise(0))
    val byVal = users.groupBy(col("cents"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("ca"),
           sum(when(col("arm") === 0, 1L).otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
    val tot = users.agg(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nb"))
    // 2×(average rank of value v) = 2·(#rows before v) + t_v + 1 — integral
    val r2 = graft.functions.Dist.prefix(byVal, Nil, Seq(col("cents")),
        cums = Seq("cum" -> col("t")))
      .agg(sum(col("ca") * (lit(2L) * (col("cum") - col("t")) + col("t") + 1L))
             .as("r2a"),
           sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val z = r2.crossJoin(broadcast(tot))
      .withColumn("n", col("na") + col("nb"))
      // 2U_A = 2R_A − na(na+1); E[2U] = na·nb; Var[2U] = 4σ²
      .withColumn("u2", col("r2a") - col("na") * (col("na") + 1L))
      .withColumn("sigma2",
        col("na").cast("double") * col("nb") / 12.0 *
          ((col("n") + 1L).cast("double") -
           col("ties").cast("double") / (col("n") * (col("n") - 1L))))
      .withColumn("z",
        (col("u2") - col("na") * col("nb")).cast("double") /
          (lit(2.0) * sqrt(col("sigma2"))))
    z.select(col("na").as("n_a"), col("nb").as("n_b"),
             r4(col("u2").cast("double") / 2.0).as("u_a"),
             r4(col("z")).as("z"))
      .withColumn("significant", when(abs(col("z")) > 1.96, 1).otherwise(0))
  }

  /** q_psi — Population Stability Index between the first and second
    * half of the observed period, over the event value distribution:
    * THE standard drift monitor for ML feature pipelines (PSI > 0.2 =
    * retrain/investigate). 10 equal-width bins over the global value
    * range; PSI = Σ (q−p)·ln(q/p) with the conventional 1e-4 floor so
    * empty bins contribute finitely.
    *
    * Determinism: the period split and bin edges derive from exact
    * integer µs bounds and one global (min,max) pair; bin assignment,
    * proportions and the log run in the same expression shape on both
    * engines, and every emitted double is r4'd. The bin spine is
    * generated (sequence), so all 10 bins emit even when empty.
    *
    * Scale shape: one 1-row bounds aggregate broadcast into the scan,
    * one partial-aggregable (bin, period) count shuffle (≤20 groups),
    * and a 10-row spine join — nothing downstream depends on volume. */
  def psi(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(expr("unix_micros(ts)").as("us"), col("value"))
    val bounds = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"),
                        min(col("value")).as("vlo"), max(col("value")).as("vhi"))
    val binned = ev.crossJoin(broadcast(bounds))
      .withColumn("period",
        when(col("us") < col("lo") + (col("hi") - col("lo")) / 2L, 0).otherwise(1))
      .withColumn("bin",
        least(lit(9), floor((col("value") - col("vlo")) * 10.0 /
                            (col("vhi") - col("vlo"))).cast("int")))
      .groupBy(col("bin"))
      .agg(sum(when(col("period") === 0, 1L).otherwise(0L)).as("n_ref"),
           sum(when(col("period") === 1, 1L).otherwise(0L)).as("n_cur"))
    val spine = s.range(1).select(explode(sequence(lit(0), lit(9))).as("bin"))
    val tot = binned.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    val rows = spine.join(binned, Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(tot))
      .withColumn("p", greatest(col("n_ref").cast("double") / col("tr"), lit(0.0001)))
      .withColumn("q", greatest(col("n_cur").cast("double") / col("tc"), lit(0.0001)))
      .withColumn("contrib", (col("q") - col("p")) * log(col("q") / col("p")))
    ord(
      rows.select(col("bin").cast("int").as("bin"), col("n_ref"), col("n_cur"),
                  r4(col("p")).as("p_ref"), r4(col("q")).as("p_cur"),
                  r4(col("contrib")).as("contrib"),
                  r4(sum(col("contrib")).over(
                    Window.rowsBetween(Window.unboundedPreceding,
                                       Window.unboundedFollowing))).as("psi")),
      col("bin"))
  }

  /** q_rolling_median — 7-day rolling MEDIAN of daily order revenue:
    * the robust trend line q_moving_avg's mean cannot give (one
    * whale order drags a mean for a week; the median shrugs). Uses
    * the aggregate-as-window form (percentile over a row frame) —
    * the Spark idiom for windowed robust stats.
    *
    * Determinism: daily revenue is summed in exact cents; the median
    * interpolates between at most two integers (·.5 exact in
    * doubles); divide and round once on output.
    *
    * Scale shape: one partial-aggregable daily rollup (rows = days),
    * then a single ordered window over the day spine — the window
    * input is calendar-bounded, never volume-bounded. At 100 TB the
    * window would partition per series key; the global form here is
    * the single-series readout. */
  def rollingMedian(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    ord(
      daily.select(col("day"),
                   r4(col("cents").cast("double") / 100.0).as("revenue"),
                   r4(expr("percentile(cents, 0.5)")
                        .over(w) / 100.0).as("med7")),
      col("day"))
  }

  def forecastDaily(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(to_date(col("ts")).as("day"), col("value"))
    val wdMeans = ev.groupBy(expr("weekday(day)").as("wd"))
      .agg(r4(sum(col("value")) / countDistinct(col("day"))).as("forecast"))
    val horizon = ev.agg(max(col("day")).as("d0"))
      .select(explode(sequence(date_add(col("d0"), 1), date_add(col("d0"), 7),
                               expr("interval 1 day"))).as("day"))
    ord(
      horizon.withColumn("wd", expr("weekday(day)"))
        .join(broadcast(wdMeans), "wd")
        .select(col("day"), col("forecast")),
      col("day"))
  }

  /** q_mann_kendall — non-parametric Mann–Kendall trend test on the
    * daily revenue series: S = Σ_{i<j} sign(x_j − x_i) over the day
    * pairs, tie-corrected variance, and the continuity-corrected
    * normal approximation z = (S∓1)/√Var(S). The robust companion to
    * q_regression's parametric slope — no distributional assumption,
    * insensitive to outlier days.
    *
    * Determinism: daily totals are exact cents (BIGINT); S, the tie
    * term and 18·Var(S) are pure int64; exactly one double division
    * (var18/18) and one sqrt feed the r4'd outputs.
    *
    * Scale shape: [[dailyEventCents]], cut eagerly (the frame feeds
    * four consumers); the O(days²) pair join is over that
    * CALENDAR-bounded frame (a decade ≈ 3.7k days ≈ 6.6M pairs),
    * broadcast on the build side, independent of event volume. */
  def mannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = dailyEventCents(s, d).iterCut(true)
    val pairs = daily.select(col("day").as("da"), col("cents").as("ca"))
      .join(broadcast(daily.select(col("day").as("db"), col("cents").as("cb"))),
            col("db") > col("da"))
      .agg(sum(when(col("cb") > col("ca"), 1L)
                 .when(col("cb") < col("ca"), -1L).otherwise(0L)).as("s"))
    val n = daily.agg(count(lit(1)).as("nd"))
    val ties = daily.groupBy(col("cents")).agg(count(lit(1)).as("tc"))
      .filter(col("tc") > 1)
      .agg(coalesce(sum(col("tc") * (col("tc") - 1L) * (lit(2L) * col("tc") + 5L)),
                    lit(0L)).as("ties"))
    pairs.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .withColumn("var18",
        col("nd") * (col("nd") - 1L) * (lit(2L) * col("nd") + 5L) - col("ties"))
      .select(
        col("nd").as("n_days"), col("s"),
        r4(col("var18") / lit(18.0)).as("var_s"),
        r4(when(col("var18") === 0L, lit(0.0))
             .when(col("s") > 0L, (col("s") - 1L) / sqrt(col("var18") / lit(18.0)))
             .when(col("s") < 0L, (col("s") + 1L) / sqrt(col("var18") / lit(18.0)))
             .otherwise(lit(0.0))).as("z"),
        when(col("s") > 0L, lit("increasing"))
          .when(col("s") < 0L, lit("decreasing"))
          .otherwise(lit("flat")).as("trend"))
  }

  /** q_ttest_welch — Welch's unequal-variance t-test on per-user
    * revenue between the two md5-gated experiment arms (same gate as
    * q_ab_test/q_mann_whitney): the CONTINUOUS-metric significance
    * readout where q_ab_test is the conversion-rate one. Emits arm
    * sizes, means, the t statistic and the Welch–Satterthwaite
    * degrees of freedom.
    *
    * Determinism: per-user totals are exact cents; each arm reduces
    * to exact int64 (n, Σx, Σx²); mean/variance/t/df are computed
    * from those six integers with the IDENTICAL expression tree on
    * both engines (the one place precision could drift — Σx·Σx — is
    * spelled `sx::DOUBLE · sx / n` on both sides), then r4'd once.
    *
    * Scale shape: one per-user rollup (the only fact-scale shuffle,
    * partial-aggregable), one 2-row arm rollup, then scalar math on a
    * 1-row frame. Nothing downstream depends on user count. */
  def ttestWelch(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .withColumn("arm",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0,
             1).otherwise(0))
    val ab = users.agg(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("sxa"),
      sum(when(col("arm") === 1, col("cents") * col("cents")).otherwise(0L)).as("sxxa"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("sxb"),
      sum(when(col("arm") === 0, col("cents") * col("cents")).otherwise(0L)).as("sxxb"))
    val st = ab
      .withColumn("ma", col("sxa").cast("double") / col("na"))
      .withColumn("mb", col("sxb").cast("double") / col("nb"))
      .withColumn("va",
        try_divide(
          col("sxxa") - col("sxa").cast("double") * col("sxa") / col("na"),
          col("na") - 1L))
      .withColumn("vb",
        try_divide(
          col("sxxb") - col("sxb").cast("double") * col("sxb") / col("nb"),
          col("nb") - 1L))
      .withColumn("se2", col("va") / col("na") + col("vb") / col("nb"))
    // try_divide on t and df: identical arms (se2 = 0) or single-user
    // arms (df denominator 0) must yield NULL like DuckDB's ÷0, not an
    // ANSI exception
    st.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      r4(col("ma") / 100.0).as("mean_a"),
      r4(col("mb") / 100.0).as("mean_b"),
      r4(try_divide(col("ma") - col("mb"), sqrt(col("se2")))).as("t_stat"),
      r4(try_divide(col("se2") * col("se2"),
           (col("va") / col("na")) * (col("va") / col("na")) / (col("na") - 1L) +
             (col("vb") / col("nb")) * (col("vb") / col("nb")) / (col("nb") - 1L)))
        .as("df"))
  }

  /** q_theil_sen — Theil–Sen robust slope of daily revenue: the MEDIAN
    * of all pairwise slopes (cents_j − cents_i)/(day_j − day_i). Breaks
    * down only past 29% outliers where OLS (q_regression) breaks at
    * one — the estimator behind most production "is this metric
    * drifting" monitors. Completes the trend triptych: OLS point
    * estimate, Mann–Kendall significance, Theil–Sen robust magnitude.
    *
    * Determinism: each pairwise slope divides exact int64 once →
    * identical double multiset on both engines; the median is picked
    * MANUALLY (row_number bracket + (a+b)/2) instead of percentile
    * interpolation, whose engine-specific `lo + (hi−lo)·f` vs
    * `(lo+hi)/2` shapes can differ one ulp at the r4 boundary.
    *
    * Scale shape: same as q_mann_kendall — one checkpointed day
    * rollup, a broadcast O(days²) pair join over the CALENDAR-bounded
    * frame, and one single-partition sort of ≤days² slope rows
    * (allowlisted: the frame never sees fact rows). */
  def theilSen(s: SparkSession, d: String): DataFrame = {
    val daily = dailyEventCents(s, d).iterCut(true)
    val slopes = daily.select(col("day").as("da"), col("cents").as("ca"))
      .join(broadcast(daily.select(col("day").as("db"), col("cents").as("cb"))),
            col("db") > col("da"))
      .select(((col("cb") - col("ca")).cast("double") /
                 datediff(col("db"), col("da")).cast("long")).as("slope"))
    val w = Window.orderBy(col("slope"))
    val o = slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // integer DIV, not `/`: Column `/` on longs is double division and
    // would never equal an exact row_number
    val sel = o.filter(col("rn") === expr("(cnt + 1) div 2") ||
                       col("rn") === expr("(cnt + 2) div 2"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    // the bracket holds 1 row (odd cnt: both indices coincide) or 2
    // (even): sum/count over ≤2 doubles is order-insensitive
    sel.agg(max(col("cnt")).as("n_pairs"),
            (sum(col("slope")) / count(lit(1))).as("med"))
      .crossJoin(broadcast(n))
      .select(col("n_days"), col("n_pairs"),
              r4(col("med") / 100.0).as("slope"))
  }

  /** q_power_mde — experiment design readout on the md5-gated arms:
    * the minimum detectable effect (absolute and relative) on the
    * day-one conversion rate at α=0.05 two-sided / 80% power, given
    * the arm sizes actually observed. The "is this test even worth
    * running" number that precedes q_ab_test's verdict.
    *
    * Determinism: conversion counts ride the exact q_ab_test
    * derivation; p-pool divides exact integers once; the MDE is one
    * sqrt over single-division terms with the z LITERALS (1.96,
    * 0.8416) spelled identically on both engines.
    *
    * Scale shape: one per-user rollup (the only fact-scale shuffle),
    * one 1-row aggregate, scalar math. */
  def powerMde(s: SparkSession, d: String): DataFrame = {
    val firsts = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(epochSec(col("ts"))).as("first_sec"),
           min(when(col("event_type") === "purchase", epochSec(col("ts"))))
             .as("first_purch"))
      .withColumn("conv",
        when(col("first_purch").isNotNull &&
             col("first_purch") - col("first_sec") <= 86400L, 1L).otherwise(0L))
      .withColumn("arm",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0,
             1).otherwise(0))
    val ab = firsts.agg(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("ca"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("cb"))
    val p = ab.withColumn("p_pool",
      (col("ca") + col("cb")).cast("double") / (col("na") + col("nb")))
    // 2.8016 as ONE literal, not 1.96 + 0.8416: the compile-time sum
    // can land an ulp off the decimal literal the oracle parses (the
    // q_pagerank Base rule)
    val mde = p.withColumn("mde_abs",
      lit(2.8016) *
        sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
             (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
    mde.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      r4(col("p_pool")).as("p_pool"),
      r4(col("mde_abs")).as("mde_abs"),
      r4(try_divide(col("mde_abs"), col("p_pool"))).as("mde_rel"))
  }

  /** q_bootstrap_ci — nonparametric 95% CI for mean per-user revenue
    * via a DETERMINISTIC Poisson bootstrap: each (user, replicate)
    * draws its resampling weight from a Poisson(1) inverse-CDF ladder
    * on an md5-derived uniform (the hash-gate idiom), so re-runs —
    * and the DuckDB oracle — resample identically with no RNG state.
    * 200 replicates; percentile bracket picked manually (the
    * q_theil_sen row_number rule), never by engine interpolation.
    *
    * Determinism: weights are exact ints (the ladder compares
    * u = k/2³² against decimal literals no k/2³² can equal);
    * replicate means divide exact int64 (Σw·cents / Σw) once; the
    * observed mean divides exact ints; three r4's at output.
    *
    * Scale shape: ONE fact-scale per-user rollup; the user × 200
    * replicate expansion is map-side only — a broadcast 200-row
    * crossJoin feeding a partial-aggregable groupBy(b), so each map
    * task emits ≤200 rows and the shuffle is O(replicates ×
    * partitions), never O(users × replicates). The CPU cost (200
    * md5s per user) is the honest price of bootstrap at any scale;
    * B is the bounded knob. */
  def bootstrapCi(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .iterCut(true)
    val reps = s.range(1, 201).select(col("id").cast("int").as("b"))
    // Pin the expansion's parallelism: AQE sizes the rollup exchange
    // by the rollup's OWN bytes, blind to the 200x row explosion and
    // the 200-md5s-per-user projection right after it — at the 100x
    // probe the 1M-user frame coalesced to ~5 partitions and 200M
    // md5s ran on 5 cores (measured exponent 1.52). A numbered
    // by-column repartition is exempt from AQE coalescing, so the
    // explosion always spreads over the configured shuffle width.
    val nShuf = s.conf.get("spark.sql.shuffle.partitions").toInt
    val pw = users.repartition(nShuf, col("user_id"))
      .crossJoin(broadcast(reps))
      .withColumn("uu", expr(
        "cast(conv(substring(md5(concat(cast(user_id as string), ':', " +
          "cast(b as string))), 1, 8), 16, 10) as bigint) / 4294967296.0"))
      .withColumn("wt",
        when(col("uu") < 0.3679, 0).when(col("uu") < 0.7358, 1)
          .when(col("uu") < 0.9197, 2).when(col("uu") < 0.9810, 3)
          .when(col("uu") < 0.9963, 4).when(col("uu") < 0.9994, 5)
          .when(col("uu") < 0.9999, 6).otherwise(7))
    val means = pw.groupBy(col("b"))
      .agg(sum(col("wt") * col("cents")).as("num"), sum(col("wt")).as("den"))
      .filter(col("den") > 0)
      .select(col("b"), (col("num").cast("double") / col("den")).as("m"))
    val o = means
      .withColumn("rn", row_number().over(Window.orderBy(col("m"), col("b"))))
      .withColumn("cnt", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val ci = o.agg(
      max(col("cnt")).as("n_replicates"),
      max(when(col("rn") === expr("(cnt * 25 + 999) div 1000"), col("m"))).as("lo"),
      max(when(col("rn") === expr("(cnt * 975) div 1000"), col("m"))).as("hi"))
    val full = users.agg(
      (sum(col("cents")).cast("double") / count(lit(1))).as("mean_raw"),
      count(lit(1)).as("n_users"))
    full.crossJoin(broadcast(ci))
      .select(col("n_users"), col("n_replicates"),
              r4(col("mean_raw") / 100.0).as("mean_obs"),
              r4(col("lo") / 100.0).as("ci_lo"),
              r4(col("hi") / 100.0).as("ci_hi"))
  }

  /** q_cramers_v — effect SIZE for the weekday × event-type
    * association: V = √(χ²/(N·min(r−1, c−1))), the scale-free [0,1]
    * companion to q_chisq's significance statistic (χ² grows with N
    * even for a trivial association; V does not — the number an
    * analyst actually compares across datasets).
    *
    * Determinism: observed/row/col/total counts are exact int64;
    * expected counts divide exact integers once per cell; the χ² sum
    * and the single sqrt are r4'd at output (the q_chisq pattern).
    *
    * Scale shape: [[contingency]], then one 1-row aggregate with the
    * broadcast 1-row dims frame. */
  def cramersV(s: SparkSession, d: String): DataFrame = {
    val (cells, dims) = contingency(s, d)
    val x = cells
      .agg(sum(col("contrib")).as("chi2"), max(col("tot")).as("tot"))
    x.crossJoin(broadcast(dims))
      .select(
        r4(col("chi2")).as("chi2"),
        ((col("nr") - 1L) * (col("nc") - 1L)).as("dof"),
        col("tot").as("n"),
        r4(sqrt(col("chi2") /
                  (col("tot") * least(col("nr") - 1L, col("nc") - 1L))))
          .as("cramers_v"))
  }

  /** q_regression — per-event-type OLS of revenue on time (x = days
    * since the corpus's first day, y = cents): slope, intercept and
    * R² from the six exact sufficient statistics (n, Σx, Σy, Σxy,
    * Σx², Σy²). The parametric trend readout; q_mann_kendall is its
    * robust cross-check, q_trend_ewma the smoother.
    *
    * The built-in regr_slope/regr_intercept are deliberately NOT used:
    * they accumulate doubles in partition order (non-deterministic
    * summation), while int64 sufficient statistics are exact and make
    * the cross-engine hash gate attainable.
    *
    * Determinism: x (calendar offset) and y (cents) are exact int64
    * per row, so all six aggregates are exact; slope/intercept/R²
    * divide them with the identical expression tree on both engines
    * (num²  and den₁·den₂ are spelled `a::DOUBLE · b` to dodge int64
    * overflow identically), then r4.
    *
    * Scale shape: the 1-row min-day frame broadcasts into the scan;
    * ONE partial-aggregable shuffle on event_type; scalar math on the
    * |types|-row frame. */
  def regression(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
    val d0 = ev.agg(min(col("day")).as("mind"))
    val a = ev.crossJoin(broadcast(d0))
      .select(col("event_type"),
              datediff(col("day"), col("mind")).cast("long").as("x"),
              expr("cast(round(value * 100) as bigint)").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("y")).as("sxy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("y") * col("y")).as("syy"))
    val f = a
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den1", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("den2", col("n") * col("syy") - col("sy") * col("sy"))
      // try_divide, not `/`: a degenerate group (single day → den1 = 0;
      // constant value → den2 = 0) must yield NULL like DuckDB's
      // divide-by-zero, not an ANSI SparkArithmeticException
      .withColumn("slope_raw", try_divide(col("num").cast("double"), col("den1")))
      .withColumn("icept_raw",
        (col("sy").cast("double") -
           try_divide(col("num").cast("double"), col("den1")) * col("sx")) /
          col("n"))
      .withColumn("r2_raw",
        try_divide(col("num").cast("double") * col("num"),
                   col("den1").cast("double") * col("den2")))
    ord(
      f.select(col("event_type"), col("n"),
               r4(col("slope_raw") / 100.0).as("slope"),
               r4(col("icept_raw") / 100.0).as("intercept"),
               r4(col("r2_raw")).as("r2")),
      col("event_type"))
  }

  /** q_mutual_info — mutual information (nats) of the weekday ×
    * event-type table: per-cell pointwise MI and contribution, plus
    * the table MI — the information-theoretic association measure
    * feature selection ranks by, completing the family (q_chisq
    * significance, q_cramers_v effect size, MI information content).
    *
    * Determinism: every ln argument is an exact integer ratio
    * (n·tot/(rt·ct)) and the chain is identically spelled (q_survival
    * rule); the table MI reuses q_chisq's full-frame window-total
    * pattern over the ≤7·|types| cell frame.
    *
    * Scale shape: identical to q_chisq — ONE partial-aggregable
    * (weekday, type) shuffle; margins and totals are windows over the
    * cell frame. */
  def mutualInfo(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(s, d)
      .groupBy(expr("weekday(ts)").as("wd"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val full = Window.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing)
    val byRow = Window.partitionBy(col("wd"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byCol = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val t = cells
      .withColumn("rt", sum(col("n")).over(byRow))
      .withColumn("ct", sum(col("n")).over(byCol))
      .withColumn("tot", sum(col("n")).over(full))
      .withColumn("pmi",
        log((col("n") * col("tot")).cast("double") /
            (col("rt") * col("ct"))))
      .withColumn("contrib",
        col("n").cast("double") / col("tot") * col("pmi"))
    ord(
      t.select(col("wd").cast("int").as("wd"), col("event_type"), col("n"),
               r4(col("pmi")).as("pmi"), r4(col("contrib")).as("contrib"),
               r4(sum(col("contrib")).over(full)).as("mi")),
      col("wd"), col("event_type"))
  }

  /** q_rolling_corr — 14-day rolling Pearson correlation between the
    * view and purchase daily volumes: the co-movement monitor that
    * tells a metrics team whether traffic and conversion move together
    * (and when they decouple — the interesting day). Multivariate
    * time-series analytics beside the single-series family.
    *
    * Determinism: the window's sufficient statistics (n, Σx, Σy, Σx²,
    * Σy², Σxy) are exact int64; corr is one identically-spelled chain
    * with a correctly-rounded √; zero-variance frames yield NULL via
    * try_divide ≙ nullif.
    *
    * Scale shape: one day rollup (conditional counts, partial-
    * aggregable), then rolling windows over the calendar-bounded daily
    * frame; rows are REPORTED days (the q_moving_avg calendar-gap
    * stance). */
  def rollingCorr(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
    val t = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
    ord(
      t.select(col("day"), col("x").as("n_views"), col("y").as("n_purchases"),
        r4(try_divide(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                 .cast("double") *
               (col("n") * col("syy") - col("sy") * col("sy"))
                 .cast("double")))).as("corr14")),
      col("day"))
  }

  /** q_cusum — two-sided CUSUM control chart on daily revenue: the
    * sequential drift detector (S⁺_t = max(0, S⁺_{t−1} + devₜ),
    * S⁻ symmetric) that fires on SUSTAINED small shifts long before a
    * per-day z-score (q_anomaly) sees anything. The recursion is
    * rewritten closed-form as prefix-sum minus running-extremum
    * (S⁺_t = P_t − min(0, min_{j≤t} P_j)) so it runs as two ordinary
    * windows — no sequential UDAF, no driver loop.
    *
    * Deviation is measured against the whole-period mean in EXACT
    * integer units scaled by N (devₜ = centsₜ·N − total), so prefix
    * sums and extrema are int64; the alarm compares S > total exactly —
    * i.e. "accumulated drift exceeds one average day's revenue" —
    * and only the displayed magnitudes divide and round.
    *
    * Scale shape: two windows over [[dailyEventCents]]. */
  def cusum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyEventCents(s, d).shared
    val tot = daily.agg(count(lit(1)).as("nd"), sum(col("cents")).as("total"))
    val wc = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val p = daily.crossJoin(broadcast(tot))
      .withColumn("dev", col("cents") * col("nd") - col("total"))
      .withColumn("pp", sum(col("dev")).over(wc))
      .withColumn("minp", least(lit(0L), min(col("pp")).over(wc)))
      .withColumn("maxp", greatest(lit(0L), max(col("pp")).over(wc)))
      .withColumn("s_hi", col("pp") - col("minp"))
      .withColumn("s_lo", col("maxp") - col("pp"))
    ord(
      p.select(col("day"),
        r4(col("cents").cast("double") / 100.0).as("revenue"),
        r4(col("s_hi").cast("double") / col("nd") / 100.0).as("cusum_hi"),
        r4(col("s_lo").cast("double") / col("nd") / 100.0).as("cusum_lo"),
        when(col("s_hi") > col("total"), 1).otherwise(0).as("alarm_hi"),
        when(col("s_lo") > col("total"), 1).otherwise(0).as("alarm_lo")),
      col("day"))
  }

  /** q_backtest_mape — walk-forward evaluation of the q_forecast_daily
    * model: hold out the final 7 days, fit the seasonal-naive weekday
    * means on the prior history only, and score the holdout day by day
    * (actual, forecast, absolute error, APE) — the "is the forecast
    * worth shipping" readout; an unevaluated forecast is a guess with
    * a query name.
    *
    * Determinism: daily totals and weekday sums are exact cents; every
    * emitted number is one identically-spelled chain (forecast =
    * Σwd/nd/100; APE's denominator guards zero via try_divide ≙ the
    * oracle's nullif).
    *
    * Scale shape: [[dailyEventCents]], persisted (the train rollup and
    * the holdout both read it); train collapses to ≤7 weekday rows
    * broadcast onto the 7-row holdout. */
  def backtestMape(s: SparkSession, d: String): DataFrame = {
    val daily = dailyEventCents(s, d).shared
    val d0 = daily.agg(max(col("day")).as("d0"))
    val dd = daily.crossJoin(broadcast(d0))
    val train = dd.filter(col("day") <= date_sub(col("d0"), 7))
      .groupBy(expr("weekday(day)").as("wd"))
      .agg(sum(col("cents")).as("sw"), count(lit(1)).as("nd"))
    ord(
      dd.filter(col("day") > date_sub(col("d0"), 7))
        .withColumn("wd", expr("weekday(day)"))
        .join(broadcast(train), "wd")
        .select(col("day"),
          r4(col("cents").cast("double") / 100.0).as("actual"),
          r4(col("sw").cast("double") / col("nd") / 100.0).as("forecast"),
          r4(abs(col("sw").cast("double") / col("nd") - col("cents")) / 100.0)
            .as("abs_err"),
          r4(try_divide(abs(col("sw").cast("double") / col("nd") -
                            col("cents")), col("cents")))
            .as("ape")),
      col("day"))
  }

  /** q_anova — one-way ANOVA of order value across market segments:
    * between/within sum of squares, F statistic and effect size
    * η² = SSB/SST — the k-group generalization missing from the
    * two-sample family (Welch t, Mann–Whitney, KS are all 2-arm; a
    * 5-segment comparison needs ANOVA or it degenerates into 10
    * uncorrected pairwise tests).
    *
    * Determinism: sufficient statistics (n, Σx, Σx²) are exact int64 —
    * value in WHOLE DOLLARS (round(o_totalprice)), because Σx² in
    * cents² would overflow int64 at sf0.1 scale (5·10⁷² · 1.5·10⁵ ≈
    * 4·10²⁰); the SSB/SSW/F chain is then identically-spelled IEEE
    * doubles on both engines (the q_survival rule).
    *
    * Scale shape: one fact-scale orders⋈customer join co-partitioned on
    * custkey, ONE partial-aggregable segment shuffle, full-frame window
    * totals over the |segments| frame, scalar math on one row. */
  def anova(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
              round(col("o_totalprice")).cast("long").as("x"))
    val g = o.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
           sum(col("x") * col("x")).as("sxx"))
    // Σ_g sx²/n is a sum of DOUBLES across groups — a plain sum()
    // accumulates in partition order, which differs between engines by
    // a last ulp. The ordered fold (sort by segment, sequential
    // aggregate) makes the accumulation order part of the query
    // contract; the oracle mirrors it with list(... ORDER BY)+
    // list_reduce. Integer totals (n, Σx, Σx²) are order-free.
    val t = g.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("nn"),
      sum(col("sx")).as("ts"),
      sum(col("sxx")).as("tss"),
      expr("aggregate(sort_array(collect_list(named_struct(" +
           "'seg', segment, 'p', cast(sx as double) * sx / n))), " +
           "cast(0.0 as double), (acc, x) -> acc + x.p)").as("sum_gb"))
    ord(
      t.select(col("k"), col("nn").as("n"),
          r4(col("sum_gb") -
             col("ts").cast("double") * col("ts") / col("nn")).as("ssb"),
          r4(col("tss").cast("double") -
             col("sum_gb")).as("ssw"),
          r4(((col("sum_gb") -
               col("ts").cast("double") * col("ts") / col("nn")) /
              (col("k") - 1L)) /
             ((col("tss").cast("double") - col("sum_gb")) /
              (col("nn") - col("k")))).as("f"),
          r4((col("sum_gb") -
              col("ts").cast("double") * col("ts") / col("nn")) /
             (col("tss").cast("double") -
              col("ts").cast("double") * col("ts") / col("nn"))).as("eta2")),
      col("k"))
  }

  /** q_time_weighted_avg — the duration-weighted mean of each event
    * type's value stream: each observation holds until the next one
    * (step function), TWA = Σ vᵢ·Δtᵢ / Σ Δtᵢ — the time-weighted
    * average price/balance operator from financial analytics that a
    * row-weighted avg() gets WRONG whenever sampling is irregular (a
    * value held for an hour must weigh 3600× one held a second).
    *
    * Determinism: Δt in exact integer seconds from a (ts, event_id)
    * uniquely-ordered lead; value in exact cents; the weighted sum
    * stays int64 (cents ≤ 10⁶ × Δt ≤ 3·10⁶ s × rows — bounded at
    * driver SFs; at larger horizons the product would move to per-day
    * partial sums first); ONE division, r4'd.
    *
    * Scale shape: one window per event_type (partitioned like
    * sessionize, never global), then a partial-aggregable per-type
    * rollup. The last observation of each stream has no successor and
    * deliberately drops (open-ended interval). */
  def timeWeightedAvg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sec"), col("event_id"))
    val e = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
              epochSec(col("ts")).as("sec"),
              expr("cast(round(value * 100) as bigint)").as("cents"))
      .withColumn("next_sec", lead(col("sec"), 1).over(w))
      .filter(col("next_sec").isNotNull)
      .withColumn("dt", col("next_sec") - col("sec"))
    ord(
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_intervals"),
             sum(col("dt")).as("total_sec"),
             sum(col("cents") * col("dt")).as("wsum"))
        .select(col("event_type"), col("n_intervals"), col("total_sec"),
                r4(col("wsum").cast("double") / col("total_sec") / 100.0)
                  .as("twa")),
      col("event_type"))
  }

  /** q_top_movers — week-over-week top movers: per week, the 3 event
    * types whose volume changed most vs their previous OBSERVED week
    * (|Δ| ranked, name tiebreak) — the "what spiked / what cratered"
    * lead of every weekly review. q_period_over_period tracks ONE
    * global revenue series; this ranks the per-series deltas so the
    * mover surfaces even when the total is flat.
    *
    * Determinism: counts and deltas are exact int64; both window
    * orders are total ((event_type, week) unique per series; |Δ| ties
    * broken by event_type). Missing weeks per series lag to the prior
    * observed week, mirrored in the oracle.
    *
    * Scale shape: one partial-aggregable rollup to |types|×|weeks|
    * rows; both windows partition by a real key (series / week) over
    * that bounded frame — no fact-row window, no global sort. */
  def topMovers(s: SparkSession, d: String): DataFrame = {
    val weekly = Tables.events(s, d)
      .groupBy(col("event_type"),
               date_trunc("week", col("ts")).cast("date").as("week"))
      .agg(count(lit(1)).as("n_events"))
    val wt = Window.partitionBy(col("event_type")).orderBy(col("week"))
    val deltas = weekly
      .withColumn("prev", lag(col("n_events"), 1).over(wt))
      .where(col("prev").isNotNull)
      .withColumn("delta", col("n_events") - col("prev"))
    val ww = Window.partitionBy(col("week"))
      .orderBy(abs(col("delta")).desc, col("event_type"))
    Fin.ord(
      deltas.withColumn("rk", row_number().over(ww))
        .where(col("rk") <= 3)
        .select(col("week"), col("rk"), col("event_type"),
                col("n_events"), col("prev"), col("delta")),
      col("week"), col("rk"))
  }

  /** q_holt_linear — Holt double exponential smoothing (level + trend,
    * α = β = 0.5) over each priority's daily revenue series, reporting
    * the final smoothed level, trend, and the 7-day-ahead linear
    * forecast l + 7·b. The trend-aware upgrade of q_trend_ewma (which
    * smooths the LEVEL only and so lags any ramp); the inherently
    * SEQUENTIAL recurrence adds the stateful-ordered-fold operator
    * class: Spark computes it as a higher-order `aggregate` over the
    * day-sorted series array, the oracle as a recursive CTE — an
    * under-iterated or order-broken fold fails the hash loudly.
    *
    *   l_t = ½·y_t + ½·(l_{t-1} + b_{t-1});  l_1 = y_1
    *   b_t = ½·(l_t − l_{t-1}) + ½·b_{t-1};  b_1 = 0
    *
    * Determinism: inputs are exact daily cent sums; the recurrence is
    * evaluated in the SAME sequential order with the SAME spelled
    * arithmetic in both engines (every IEEE op is correctly rounded,
    * so identical op sequences give identical bits — the q_rolling_corr
    * chain rule, extended to a fold). The /100.0 rescale + r4 happen
    * once at the end.
    *
    * Scale shape: one partial-aggregable (priority, day) rollup, then
    * collect each series into a day-sorted array per key — bounded by
    * |days| (the q_pack_sequences bounded-array contract), never by
    * fact rows; the fold is per-group map-side work. At 100 TB the
    * series count grows (per metric/tenant) while each array stays
    * calendar-bounded. */
  def holtLinear(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
               date_trunc("day", col("o_orderdate")).cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val folded = daily
      .groupBy(col("priority"))
      .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
             .as("ys"))
      .withColumn("n_days", size(col("ys")))
      // fold days 2..n over the (level, trend) state; day 1 is the init
      .withColumn("st", expr(
        """aggregate(slice(ys, 2, size(ys) - 1),
             named_struct('l', CAST(element_at(ys, 1).cents AS DOUBLE),
                          'b', CAST(0.0 AS DOUBLE)),
             (acc, y) -> named_struct(
               'l', 0.5D * CAST(y.cents AS DOUBLE) + 0.5D * (acc.l + acc.b),
               'b', 0.5D * ((0.5D * CAST(y.cents AS DOUBLE)
                             + 0.5D * (acc.l + acc.b)) - acc.l)
                    + 0.5D * acc.b))"""))
    Fin.ord(
      folded.select(col("priority"), col("n_days").cast("long").as("n_days"),
        Fin.r4(col("st.l") / 100.0).as("level_rev"),
        Fin.r4(col("st.b") / 100.0).as("trend_rev"),
        Fin.r4((col("st.l") + lit(7.0) * col("st.b")) / 100.0)
          .as("forecast7_rev")),
      col("priority"))
  }

  /** q_burstiness — per-event-type burstiness of the daily arrival
    * process: Fano factor F = var/mean of daily counts. F ≈ 1 is
    * Poisson (memoryless traffic), F ≫ 1 is bursty (campaign spikes,
    * bot storms), F < 1 is regular (scheduled jobs) — the one-number
    * dispersion screen that tells an alerting team which series can
    * use a simple threshold and which need q_cusum/q_changepoint.
    *
    * Determinism: daily counts are exact int64; variance and Fano are
    * algebraically integer until ONE terminal division each —
    * var = (n·Σx² − (Σx)²)/n/n and F = (n·Σx² − (Σx)²)/(n·Σx) — the
    * identically-spelled-chain rule. Days are OBSERVED days (the
    * q_moving_avg calendar-gap stance).
    *
    * Int64 overflow closed: Σx and Σx² accumulate in decimal(38,0) —
    * exact to 10³⁸ like DuckDB's HUGEINT — so n·Σx² and (Σx)² are
    * exact on both engines far past the old n_days·C < 3.0e9 int64
    * bound (decimal can't overflow before n_days·C > 10¹⁹).
    * Within the old headroom the values are the same exact integers,
    * cast to double at the same point ⇒ bit-identical (gated at all
    * three SFs); past it OperatorEdgeSpec injects an over-headroom
    * type and asserts BigInt-exact Fano, not a silent wrap.
    *
    * Scale shape: two partial-aggregable rollups (fact → daily →
    * per-type), nothing else. */
  def burstiness(s: SparkSession, d: String): DataFrame =
    burstinessOn(Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c")))

  /** Per-type dispersion body over any (event_type, day, c) daily
    * frame — split out so OperatorEdgeSpec can inject daily counts no
    * real fixture could reach. */
  def burstinessOn(daily: DataFrame): DataFrame = {
    val cd = col("c").cast("decimal(18,0)")
    Fin.ord(
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(cd).as("s1"),
             sum(cd * cd).as("s2"))
        .select(col("event_type"), col("n_days"),
          Fin.r4(col("s1").cast("double") / col("n_days")).as("mean_daily"),
          Fin.r4((col("n_days") * col("s2") - col("s1") * col("s1"))
                   .cast("double") / col("n_days") / col("n_days"))
            .as("var_daily"),
          Fin.r4((col("n_days") * col("s2") - col("s1") * col("s1"))
                   .cast("double") / (col("n_days") * col("s1"))
                   .cast("double"))
            .as("fano")),
      col("event_type"))
  }

  /** q_purchase_interval — the inter-purchase time (IPT) distribution:
    * over every user's consecutive-purchase gap, the gap count, mean,
    * median and p90 in days — the purchase-frequency input every LTV
    * and replenishment model starts from (q_ltv projects VALUE; this
    * measures CADENCE).
    *
    * Determinism: gaps are exact integer µs over the per-user
    * (ts, event_id)-ordered purchase timeline; the mean divides an
    * exact sum once; the median interpolates integer µs at the DYADIC
    * .5 position (exact); p90's .9 position is non-dyadic but follows
    * the established identically-spelled percentile chain
    * (q_winsorize precedent). Day conversions divide once each, r4'd.
    *
    * Scale shape: purchase filter pushes into the scan; one user
    * shuffle for the lag window; the distribution aggregates over the
    * gap frame (at 100 TB: approx_percentile, the q_percentile_approx
    * path — documented). */
  def purchaseInterval(s: SparkSession, d: String): DataFrame = {
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
              expr("unix_micros(ts)").as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val gaps = p.withColumn("prev", lag(col("us"), 1).over(w))
      .where(col("prev").isNotNull)
      .select((col("us") - col("prev")).as("gap_us"))
    val dayUs = 86400.0 * 1000000.0
    Fin.ord(
      gaps.agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_us"),
               percentile(col("gap_us"), lit(0.5)).as("med_us"),
               percentile(col("gap_us"), lit(0.9)).as("p90_us"))
        .select(col("n_gaps"),
                Fin.r4(col("sum_us").cast("double") / col("n_gaps") /
                       lit(dayUs)).as("avg_days"),
                Fin.r4(col("med_us") / lit(dayUs)).as("median_days"),
                Fin.r4(col("p90_us") / lit(dayUs)).as("p90_days")),
      col("n_gaps"))
  }

  /** q_seasonal_decompose — classical additive decomposition of the
    * daily revenue series: trend (centered 7-day moving average),
    * weekday seasonal index (mean detrended value per weekday), and
    * residual = observed − trend − seasonal — the STL-lite readout
    * that separates "we grew" from "it was Friday" (q_seasonality
    * profiles the dow×hour grid; this SUBTRACTS the calendar so the
    * residual exposes genuinely unusual days).
    *
    * Determinism: everything stays in exact int64 cents until the
    * terminal divisions — the detrended value is kept as the
    * INTEGER res7 = 7·y − Σ7 (multiplying through by the window size
    * instead of dividing), so the per-weekday seasonal mean is a
    * ratio of exact integers Σres7/(7·n); trend, seasonal and
    * residual are identically-spelled division chains, r4'd. Edge
    * days without a full 7-day frame are dropped (count7 = 7), so
    * the moving average is always a true centered mean.
    *
    * Scale shape: one partial-aggregable day rollup; the rolling
    * window rides the calendar-bounded daily frame (q_cusum
    * precedent — whitelisted, chunk-per-range at 100 TB); the 7-row
    * weekday index broadcasts back. */
  def seasonalDecompose(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val t = daily
      .withColumn("sum7", sum(col("cents")).over(w7))
      .withColumn("cnt7", count(lit(1)).over(w7))
      .where(col("cnt7") === 7)
      .withColumn("res7", lit(7L) * col("cents") - col("sum7"))
      .withColumn("wd", expr("weekday(day)"))
      .shared // feeds the weekday index AND the join
    val seas = t.groupBy(col("wd"))
      .agg(sum(col("res7")).as("srs"), count(lit(1)).as("nw"))
    Fin.ord(
      t.join(broadcast(seas), "wd")
        .select(col("day"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          Fin.r4(col("sum7").cast("double") / 7.0 / 100.0).as("trend"),
          Fin.r4(col("srs").cast("double") / (lit(7.0) * col("nw")) / 100.0)
            .as("seasonal"),
          Fin.r4((col("res7").cast("double") / 7.0 -
                  col("srs").cast("double") / (lit(7.0) * col("nw"))) / 100.0)
            .as("residual")),
      col("day"))
  }

  /** q_lead_lag_corr — cross-correlation of the daily VIEW and
    * PURCHASE count series at lags −3..+3 days: corr(view(t),
    * purchase(t+lag)) per lag. The lead-lag readout ("views lead
    * purchases by k days") that q_rolling_corr's contemporaneous
    * window cannot see — the argmax lag is the browse-to-buy latency
    * a campaign planner schedules around.
    *
    * Determinism: daily counts exact int64; per lag, the Pearson
    * sufficient sums (n, Σx, Σy, Σxy, Σx², Σy²) are exact int64 sums
    * over the lag-joined day pairs; r is ONE identically-spelled
    * chain with nullif guarding zero variance. Days are OBSERVED days
    * (the q_moving_avg stance); a lag pair exists iff both endpoints
    * were observed.
    *
    * Scale shape: one partial-aggregable rollup to the ≤|days|
    * calendar frame, a 7-row lag spine crossed onto it, one
    * calendar-frame self-join on (day+lag), and a ≤7-row rollup —
    * nothing after the first rollup is proportional to events. */
  def leadLagCorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .shared
    val lags = s.range(-3, 4).select(col("id").cast("int").as("lag"))
    val pairs = daily.select(col("day"), col("v"))
      .crossJoin(broadcast(lags))
      .join(daily.select(col("day").as("day2"), col("p")),
            expr("date_add(day, lag) = day2"))
    ord(
      pairs.groupBy(col("lag"))
        .agg(count(lit(1)).as("n_days"),
             sum(col("v")).as("sx"), sum(col("p")).as("sy"),
             sum(col("v") * col("p")).as("sxy"),
             sum(col("v") * col("v")).as("sxx"),
             sum(col("p") * col("p")).as("syy"))
        .select(col("lag"), col("n_days"),
          r4((col("n_days") * col("sxy") - col("sx") * col("sy"))
               .cast("double") /
             nullif(sqrt((col("n_days") * col("sxx") - col("sx") * col("sx"))
                           .cast("double")) *
                    sqrt((col("n_days") * col("syy") - col("sy") * col("sy"))
                           .cast("double")), lit(0.0))).as("corr")),
      col("lag"))
  }

  /** q_diff_in_diff — the difference-in-differences estimator over
    * the deterministic A/B split: per (arm, period) cell the purchase
    * count and mean purchase value, and the DiD effect
    * (B₂−B₁)−(A₂−A₁) on mean value — the experimentation family's
    * trend-robust effect estimate (q_ab_test compares levels; DiD
    * subtracts the shared time trend, the parallel-trends workhorse).
    *
    * Arms: the q_ab_test md5(user_id) parity split (deterministic,
    * seed-free, engine-identical). Periods: the event-time range
    * split at its exact integer-second midpoint — 2·sec < mn+mx, the
    * q_mix_shift no-float-midpoint rule.
    *
    * Determinism: cell sums are exact cents; each mean divides once;
    * the DiD combines the four UNROUNDED means in one
    * identically-spelled chain and r4's once (§2.10 rule 8 — never
    * arithmetic on already-rounded values).
    *
    * Scale shape: purchase filter pushes into the scan; the 1-row
    * min/max frame broadcasts; ONE partial-aggregable shuffle onto 4
    * cells; the pivot to a single row is a 4-row fold. */
  def diffInDiff(s: SparkSession, d: String): DataFrame = {
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), epochSec(col("ts")).as("sec"),
              expr("cast(round(value * 100) as bigint)").as("cents"))
    val bounds = p.agg(min(col("sec")).as("mn"), max(col("sec")).as("mx"))
    val cells = p.crossJoin(broadcast(bounds))
      .withColumn("arm",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0,
             "A").otherwise("B"))
      .withColumn("period",
        when(lit(2) * col("sec") < col("mn") + col("mx"), 1).otherwise(2))
      .groupBy(col("arm"), col("period"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
    ord(
      cells.agg(
          sum(when(col("arm") === "A" && col("period") === 1, col("n"))).as("n_a1"),
          sum(when(col("arm") === "A" && col("period") === 2, col("n"))).as("n_a2"),
          sum(when(col("arm") === "B" && col("period") === 1, col("n"))).as("n_b1"),
          sum(when(col("arm") === "B" && col("period") === 2, col("n"))).as("n_b2"),
          sum(when(col("arm") === "A" && col("period") === 1, col("sc"))).as("s_a1"),
          sum(when(col("arm") === "A" && col("period") === 2, col("sc"))).as("s_a2"),
          sum(when(col("arm") === "B" && col("period") === 1, col("sc"))).as("s_b1"),
          sum(when(col("arm") === "B" && col("period") === 2, col("sc"))).as("s_b2"))
        .select(col("n_a1"), col("n_a2"), col("n_b1"), col("n_b2"),
          r4(col("s_a1").cast("double") / 100.0 / col("n_a1")).as("m_a1"),
          r4(col("s_a2").cast("double") / 100.0 / col("n_a2")).as("m_a2"),
          r4(col("s_b1").cast("double") / 100.0 / col("n_b1")).as("m_b1"),
          r4(col("s_b2").cast("double") / 100.0 / col("n_b2")).as("m_b2"),
          r4((col("s_b2").cast("double") / 100.0 / col("n_b2") -
              col("s_b1").cast("double") / 100.0 / col("n_b1")) -
             (col("s_a2").cast("double") / 100.0 / col("n_a2") -
              col("s_a1").cast("double") / 100.0 / col("n_a1"))).as("did")),
      col("n_a1"))
  }

  /** q_rsi — 14-day relative strength index (Cutler's SMA form) of
    * daily order revenue: per day, the revenue delta vs the previous
    * observed day and RSI₁₄ = 100·ΣG/(ΣG+ΣL) over the trailing 14
    * observed deltas (G = positive delta, L = |negative delta|) — the
    * bounded 0–100 momentum oscillator that turns an open-ended
    * revenue series into "overbought/oversold" bands a monitor can
    * threshold (q_moving_avg smooths the level; this scores the
    * DIRECTION mix of recent moves).
    *
    * Determinism: deltas/gains/losses are exact int64 cents; RSI is
    * ONE division of two exact sums, r4'd — Cutler's SMA variant is
    * chosen over Wilder's recursive EMA precisely because it stays in
    * integer space (no float recursion to replay). Rows with fewer
    * than 14 trailing deltas report NULL (warm-up, spelled the same
    * both engines); an all-flat window (ΣG+ΣL = 0) is NULL via nullif.
    *
    * Scale shape: the windows run on [[dailyOrders]]; ROWS frame over
    * observed days. */
  def rsi(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val wLag = Window.orderBy(col("day_num"))
    val w14 = Window.orderBy(col("day_num")).rowsBetween(-13, 0)
    ord(
      daily.withColumn("prev", lag(col("cents"), 1).over(wLag))
        .filter(col("prev").isNotNull)
        .withColumn("gain", greatest(col("cents") - col("prev"), lit(0L)))
        .withColumn("loss", greatest(col("prev") - col("cents"), lit(0L)))
        .withColumn("sg", sum(col("gain")).over(w14))
        .withColumn("sl", sum(col("loss")).over(w14))
        .withColumn("nw", count(lit(1)).over(w14))
        .select(col("day_num"),
          ((col("cents") - col("prev")).cast("double") / 100.0)
            .as("delta_rev"),
          when(col("nw") === 14,
            r4(lit(100.0) * col("sg").cast("double") /
               nullif((col("sg") + col("sl")).cast("double"), lit(0.0))))
            .as("rsi14")),
      col("day_num"))
  }

  /** q_sax — SAX (symbolic aggregate approximation) of the daily
    * event-count series: the series is cut into 8 equal-width PAA
    * segments, each segment's mean count is z-scored against the
    * whole series and mapped to one of 4 symbols on the standard
    * normal breakpoints (−0.6745, 0, 0.6745 — quartiles of N(0,1)),
    * yielding an 8-char word like "abddccba" — the shape signature
    * that lets a monitor compare/tag/cluster SERIES (not points) with
    * plain string equality; the symbolic front door of the ts family
    * (q_anomaly flags points; this names the whole curve's shape).
    *
    * Determinism: day counts are exact int64; segment assignment is
    * integer floor division (8·i DIV n); all sufficient sums are
    * exact (Σx/Σx² in decimal(38,0) — the q_burstiness idiom; DuckDB
    * HUGEINT mirrors); z = (n·Σseg − len·Σx)/(len·√((n·Σx² − Σx²)·n))
    * is the identically-spelled chain — ONE division of
    * integer-derived doubles, so both engines compute the bit-same z
    * and break the breakpoint comparisons (<, strict) the same way;
    * a zero-variance series is NULL-z → symbol 'b' on both engines.
    *
    * Scale shape: one daily rollup (partial-aggregable), one 1-row
    * series aggregate broadcast, one ≤8-row segment rollup — the
    * window-free PAA form; at 100 TB only the rollup grows. */
  def sax(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("CAST(unix_timestamp(ts) DIV 86400 AS INT)").as("day_num"))
      .agg(count(lit(1)).as("c"))
    // rank days 0..n-1 by day_num so segment cut is position-based
    val idx = daily.select(col("day_num"), col("c"),
      (row_number().over(Window.orderBy(col("day_num"))) - 1).as("i"))
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("c")).cast("decimal(38,0)").as("sx"),
      sum(col("c") * col("c")).cast("decimal(38,0)").as("sxx"))
    val seg = idx.crossJoin(broadcast(tot))
      .groupBy(expr("CAST(8 * i DIV n AS INT)").as("seg"))
      .agg(count(lit(1)).as("ln"), sum(col("c")).as("sc"),
           first(col("n")).as("n"), first(col("sx")).as("sx"),
           first(col("sxx")).as("sxx"))
    // z = (n·sc − ln·sx) / (ln·√(n·sxx − sx²)·√n)   vs c ∈ {−.6745, 0, .6745}
    val num = (col("n") * col("sc") - col("ln") * col("sx")).cast("double")
    val den = (col("ln").cast("double") *
               sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                 .cast("double") * col("n").cast("double")))
    val z = num / nullif(den, lit(0.0))
    val sym = when(z.isNull, lit("b"))
      .when(z < -0.6745, lit("a")).when(z < 0.0, lit("b"))
      .when(z < 0.6745, lit("c")).otherwise(lit("d"))
    ord(
      seg.select(col("seg"), col("ln").as("n_days"), r4(z).as("z"),
                 sym.as("symbol")),
      col("seg"))
  }

  /** q_ratio_metric — delta-method readout for a RATIO metric
    * (purchases per event) under the q_ab_test arm split: per arm,
    * users, ΣX, ΣY, the ratio R = ΣX/ΣY, and its linearization
    * (delta-method) standard error se = √(Σ(xᵢ−R·yᵢ)²·n/(n−1))/ΣY —
    * the standard correction for the fact that a ratio of sums is NOT
    * a mean of ratios (per-user denominators vary, so the naive
    * binomial SE of q_ab_test under-covers); the experimentation
    * platform's hard case, closed.
    *
    * Determinism: per-user X (purchases) and Y (events) are exact
    * int64; all five moments accumulate in decimal(38,0) (the
    * q_burstiness overflow-closed idiom; DuckDB HUGEINT mirrors);
    * Σ(xᵢ−R·yᵢ)² expands algebraically to Σx² − 2R·Σxy + R²·Σy², the
    * identically-spelled chain over exact moments (Σdᵢ = 0 exactly
    * because R = ΣX/ΣY, so no mean-centering term); empty arm → NULL
    * ratio via nullif, n ≤ 1 → NULL se; the arm spine is literal so
    * both rows always surface (§2.10 spine rule).
    *
    * Scale shape: one per-user rollup (partial-aggregable), one
    * 2-group moment aggregate — the q_ab_test shape with three more
    * algebraic moments; nothing but the rollup touches fact rows. */
  def ratioMetric(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("x"),
           count(lit(1)).as("y"))
      .withColumn("variant",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0,
             "A").otherwise("B"))
    val m = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
           sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(dec(col("x") * col("x"))).cast("decimal(38,0)").as("sxx"),
           sum(dec(col("y") * col("y"))).cast("decimal(38,0)").as("syy"),
           sum(dec(col("x") * col("y"))).cast("decimal(38,0)").as("sxy"))
    val spine = s.range(0, 2).select(
      element_at(array(lit("A"), lit("B")), (col("id") + 1).cast("int"))
        .as("variant"))
    val rr = col("sx").cast("double") /
      nullif(col("sy").cast("double"), lit(0.0))
    val e2 = col("sxx").cast("double") - lit(2.0) * rr * col("sxy").cast("double") +
      rr * rr * col("syy").cast("double")
    ord(
      spine.join(m, Seq("variant"), "left")
        .select(col("variant"),
          coalesce(col("n"), lit(0L)).as("n_users"),
          coalesce(col("sx"), lit(0L)).as("sum_x"),
          coalesce(col("sy"), lit(0L)).as("sum_y"),
          r4(rr).as("ratio"),
          when(col("n") > 1,
            r4(sqrt(e2 * col("n").cast("double") /
                    (col("n") - lit(1L)).cast("double")) /
               nullif(col("sy").cast("double"), lit(0.0)))).as("se")),
      col("variant"))
  }

  /** q_holt_winters — additive Holt–Winters (level + trend + weekly
    * seasonality, m = 7, α = β = γ = ½) over the daily order-revenue
    * series: the triple-smoothing tier that completes the exponential
    * family (q_trend_ewma smooths the level, q_holt_linear adds trend,
    * this adds the seasonal state a weekly-cycled business series
    * actually needs before a forecast is honest). Emits the final
    * (level, trend, s₀..s₆) state and the 1-step-ahead forecast
    * l + b + s₍ₙ₊₁₎ mod 7.
    *
    * Determinism: the recurrence is a SEQUENTIAL ordered fold — Spark
    * folds the sorted day array with `aggregate`; DuckDB replays the
    * SAME spelled arithmetic as a recursive CTE carrying the seven
    * seasonal slots as columns (the q_holt_linear precedent, widened)
    * — α = β = γ = ½ are dyadic, so every smoothing step is an exact
    * binary-float halving of identically-derived operands; flat-zero
    * seasonal init and l₀ = first day's cents on both engines; r4
    * only at output.
    *
    * Scale shape: the fold runs over [[dailyRevSeq]] collected into
    * ONE row; state is 9 doubles. */
  def holtWinters(s: SparkSession, d: String): DataFrame = {
    val sj = "CASE CAST(y.rn % 7 AS INT) WHEN 0 THEN acc.s0 WHEN 1 THEN acc.s1" +
      " WHEN 2 THEN acc.s2 WHEN 3 THEN acc.s3 WHEN 4 THEN acc.s4" +
      " WHEN 5 THEN acc.s5 ELSE acc.s6 END"
    val lp = s"0.5D * (CAST(y.cents AS DOUBLE) - ($sj)) + 0.5D * (acc.l + acc.b)"
    val slots = (0 to 6).map { k =>
      s"'s$k', IF(y.rn % 7 = $k, 0.5D * (CAST(y.cents AS DOUBLE) - ($lp))" +
        s" + 0.5D * ($sj), acc.s$k)"
    }.mkString(", ")
    val zeros = (0 to 6).map(k => s"'s$k', CAST(0.0 AS DOUBLE)").mkString(", ")
    val folded = dailyRevSeq(dailyOrders(s, d))
      .agg(sort_array(collect_list(struct(col("rn"), col("cents")))).as("ys"))
      .withColumn("n_days", size(col("ys")))
      .withColumn("st", expr(
        s"""aggregate(slice(ys, 2, size(ys) - 1),
              named_struct('l', CAST(element_at(ys, 1).cents AS DOUBLE),
                           'b', CAST(0.0 AS DOUBLE), $zeros),
              (acc, y) -> named_struct(
                'l', $lp,
                'b', 0.5D * (($lp) - acc.l) + 0.5D * acc.b,
                $slots))"""))
    val nextSeason = expr(
      "CASE CAST((n_days + 1) % 7 AS INT) WHEN 0 THEN st.s0 WHEN 1 THEN st.s1" +
        " WHEN 2 THEN st.s2 WHEN 3 THEN st.s3 WHEN 4 THEN st.s4" +
        " WHEN 5 THEN st.s5 ELSE st.s6 END")
    ord(
      folded.select(col("n_days").cast("long").as("n_days"),
        r4(col("st.l") / 100.0).as("level_rev"),
        r4(col("st.b") / 100.0).as("trend_rev"),
        r4(col("st.s0") / 100.0).as("s0_rev"),
        r4(col("st.s1") / 100.0).as("s1_rev"),
        r4(col("st.s2") / 100.0).as("s2_rev"),
        r4(col("st.s3") / 100.0).as("s3_rev"),
        r4(col("st.s4") / 100.0).as("s4_rev"),
        r4(col("st.s5") / 100.0).as("s5_rev"),
        r4(col("st.s6") / 100.0).as("s6_rev"),
        r4((col("st.l") + col("st.b") + nextSeason) / 100.0)
          .as("forecast1_rev")),
      col("n_days"))
  }

  /** q_bollinger — 20-day Bollinger bands over daily order revenue:
    * per day, the 20-day mean, sample stddev, upper/lower bands
    * (mean ± 2σ) and %B = (x − lower)/(upper − lower) — the
    * volatility-normalized position readout that turns "revenue is
    * up" into "revenue is 2σ above its own recent regime" (q_anomaly
    * z-scores against the GLOBAL series; this scores against the
    * trailing window, so a regime change re-centers the bands).
    *
    * Determinism: daily cents are exact int64; Σx and Σx² accumulate
    * in decimal(38,0) (cents² clears int64 at sf0.1 — the
    * q_burstiness overflow-closed idiom; DuckDB HUGEINT mirrors, and
    * its segment-tree window combine is safe because the sums are
    * EXACT integers); mean/σ/bands/%B are one identically-spelled
    * IEEE chain from those ints, each r4'd once at output (never
    * derived from a rounded neighbor — §2.10 rule 8); days with
    * fewer than 20 trailing observations report NULL (the q_rsi
    * warm-up rule); a zero-variance window NULLs %B via nullif.
    *
    * Scale shape: the window runs on [[dailyOrders]]. */
  def bollinger(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val w20 = Window.orderBy(col("day_num")).rowsBetween(-19, 0)
    val st = daily
      .withColumn("sx", sum(dec(col("cents"))).over(w20))
      .withColumn("sxx", sum(dec(col("cents")) * dec(col("cents"))).over(w20))
      .withColumn("nw", count(lit(1)).over(w20))
    val m = col("sx").cast("double") / col("nw").cast("double") / 100.0
    val sd = sqrt((dec(col("nw")) * col("sxx") - col("sx") * col("sx"))
                    .cast("double") /
                  (col("nw") * (col("nw") - lit(1L))).cast("double")) / 100.0
    val x = col("cents").cast("double") / 100.0
    ord(
      st.select(col("day_num"),
        r4(x).as("rev"),
        when(col("nw") === 20, r4(m)).as("mid"),
        when(col("nw") === 20, r4(sd)).as("sd"),
        when(col("nw") === 20, r4(m + lit(2.0) * sd)).as("band_up"),
        when(col("nw") === 20, r4(m - lit(2.0) * sd)).as("band_dn"),
        when(col("nw") === 20,
          r4((x - (m - lit(2.0) * sd)) / nullif(lit(4.0) * sd, lit(0.0))))
          .as("pct_b")),
      col("day_num"))
  }

  /** q_stochastic — 14-day stochastic oscillator over daily order
    * revenue: %K = 100·(x − min₁₄)/(max₁₄ − min₁₄) places today
    * inside its trailing range, and %D smooths %K over 3 days — the
    * range-position companion to q_rsi (RSI scores the MIX of recent
    * moves; this scores WHERE the level sits between its recent
    * extremes, the pair every momentum monitor runs together).
    *
    * Determinism: daily cents, window min/max and the %K
    * numerator/denominator are all exact int64; %K is ONE division
    * r4'd. %D is NOT a mean of three rounded (or even three double)
    * %K values — three doubles summed by Spark's frame re-scan vs
    * DuckDB's segment tree could round differently — it is the exact
    * rational (n₁d₂d₃ + n₂d₁d₃ + n₃d₁d₂)·100 / (3·d₁d₂d₃) with the
    * lagged numerators/denominators carried as ints and the products
    * in decimal(38,0) (≤ ~7·10³⁵ at 10×sf0.1 — headroom verified;
    * DuckDB HUGEINT mirrors), so both engines divide the same two
    * exact integers ONCE. Warm-up rows (<14 trailing days, or <2
    * trailing full windows for %D) and flat windows report NULL.
    *
    * Scale shape: windows ride [[dailyOrders]]; the %D lags reuse the
    * same sorted frame — one sort. */
  def stochastic(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val w14 = Window.orderBy(col("day_num")).rowsBetween(-13, 0)
    val wL = Window.orderBy(col("day_num"))
    val st = daily
      .withColumn("kn", col("cents") - min(col("cents")).over(w14))
      .withColumn("kd", max(col("cents")).over(w14) - min(col("cents")).over(w14))
      .withColumn("nw", count(lit(1)).over(w14))
      .withColumn("kn1", lag(col("kn"), 1).over(wL))
      .withColumn("kd1", lag(col("kd"), 1).over(wL))
      .withColumn("nw1", lag(col("nw"), 1).over(wL))
      .withColumn("kn2", lag(col("kn"), 2).over(wL))
      .withColumn("kd2", lag(col("kd"), 2).over(wL))
      .withColumn("nw2", lag(col("nw"), 2).over(wL))
    val dNum = (dec(col("kn")) * dec(col("kd1")) * dec(col("kd2")) +
                dec(col("kn1")) * dec(col("kd")) * dec(col("kd2")) +
                dec(col("kn2")) * dec(col("kd")) * dec(col("kd1"))) *
               dec(lit(100L))
    val dDen = dec(lit(3L)) * dec(col("kd")) * dec(col("kd1")) * dec(col("kd2"))
    ord(
      st.select(col("day_num"),
        r4(col("cents").cast("double") / 100.0).as("rev"),
        when(col("nw") === 14,
          r4(lit(100.0) * col("kn").cast("double") /
             nullif(col("kd").cast("double"), lit(0.0)))).as("k14"),
        when(col("nw") === 14 && col("nw1") === 14 && col("nw2") === 14,
          r4(dNum.cast("double") /
             nullif(dDen.cast("double"), lit(0.0)))).as("d14")),
      col("day_num"))
  }

  /** q_wasserstein — exact 1-D Wasserstein-1 (earth mover's) distance
    * between the A/B arms' order-value distributions: W₁ = ∫|F_A −
    * F_B| over the value axis, computed on the discrete support as
    * Σ|F_A(xᵢ) − F_B(xᵢ)|·(xᵢ₊₁ − xᵢ) — the distribution-shift
    * readout in the METRIC's own units (dollars moved per unit mass),
    * where q_ks_test reports only the worst single CDF gap and
    * q_psi/q_mix_kl need binning. The A/B arm split makes it the
    * experiment guardrail: W₁ ≈ 0 is the expected null reading.
    *
    * Determinism: the CDF difference is kept as the exact integer
    * cross product |cumA·nB − cumB·nA| (never a double fraction); each
    * term multiplies an exact support gap in decimal(38,0) (≤ ~2·10²⁹
    * at 10×sf0.1; DuckDB HUGEINT mirrors); W₁ is ONE terminal division
    * by nA·nB·100, r4'd, NULL via nullif if an arm is empty.
    *
    * Scale shape: one partial-aggregable rollup onto the DISTINCT
    * value support; the cumulative window runs over that value-domain-
    * bounded frame (the q_mann_whitney stance — range-partitioned
    * prefix sums at 100 TB), never over fact rows. */
  def wasserstein(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
      when(expr("conv(substring(md5(cast(o_custkey as string)), 1, 8), 16, 10) % 2") === 0,
           "A").otherwise("B").as("arm"))
    val pv = o.groupBy(col("cents"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ca"),
           sum(when(col("arm") === "B", 1L).otherwise(0L)).as("cb"))
    val tot = pv.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
                     count(lit(1)).as("n_support"))
    // segment sum indexed from the segment's UPPER point: the W₁
    // segment between consecutive support values y < x contributes
    // (x − y)·|F_A(y)·n_b − F_B(y)·n_a|, read on row x with the
    // strictly-prior cumulations (cum − own count) and y = maxPrev,
    // which rides the tier's offsets array at no extra cost
    val cum = graft.functions.Dist.prefix(pv, Nil, Seq(col("cents")),
        cums = Seq("cuma" -> col("ca"), "cumb" -> col("cb")),
        maxPrev = Seq("__prev" -> col("cents")))
      .withColumn("gap", col("cents") - col("__prev"))
      .filter(col("gap").isNotNull)
    // single-row total even when the gap frame is empty (one distinct
    // value → W₁ = 0 must still SURFACE — §2.10 spine rule)
    val ts = cum.crossJoin(broadcast(tot))
      .select((dec(abs((col("cuma") - col("ca")) * col("nb") -
                       (col("cumb") - col("cb")) * col("na"))) *
               dec(col("gap"))).cast("decimal(38,0)").as("t"))
      .agg(sum(col("t")).cast("decimal(38,0)").as("ts"))
    ord(
      tot.crossJoin(broadcast(ts))
        .select(col("na").as("n_a"), col("nb").as("n_b"), col("n_support"),
          r4(coalesce(col("ts"), lit(0L).cast("decimal(38,0)")).cast("double") /
             nullif((dec(col("na")) * dec(col("nb")) * dec(lit(100L)))
                      .cast("double"), lit(0.0))).as("w1_dollars")),
      col("n_a"))
  }

  /** q_js_divergence — Jensen–Shannon divergence of the order-priority
    * mix between the first and second half of the order history:
    * JS(P‖Q) = ½ΣP·ln(P/M) + ½ΣQ·ln(Q/M), M = (P+Q)/2 — the SYMMETRIC,
    * always-finite companion to q_mix_kl (KL explodes on a vanished
    * category; JS is bounded by ln 2, which is what a drift monitor
    * can threshold). Emits the per-priority decomposition plus the
    * total, so "which category moved" rides along with "how much".
    *
    * Determinism: the half split is the exact integer-second midpoint
    * (q_mix_shift rule); category counts are exact int64; each
    * contribution is one identically-spelled double chain (zero-count
    * sides contribute exactly 0.0 by guard, not by 0·ln 0); the TOTAL
    * folds contributions in priority order (the q_anova ordered-fold
    * rule — never an unordered double sum), r4'd once.
    *
    * Scale shape: one partial-aggregable rollup onto |priorities|
    * keys; everything after rides the ≤5-row mix frame. */
  def jsDivergence(s: SparkSession, d: String): DataFrame = {
    val b = Tables.orders(s, d)
      .agg(min(epochSec(col("o_orderdate"))).as("mn"),
           max(epochSec(col("o_orderdate"))).as("mx"))
    val g = Tables.orders(s, d).crossJoin(broadcast(b))
      .withColumn("h",
        when(epochSec(col("o_orderdate")) * 2 < col("mn") + col("mx"), 1)
          .otherwise(2))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(sum(when(col("h") === 1, 1L).otherwise(0L)).as("c1"),
           sum(when(col("h") === 2, 1L).otherwise(0L)).as("c2"))
    val t = g.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val p = col("c1").cast("double") / col("n1").cast("double")
    val q = col("c2").cast("double") / col("n2").cast("double")
    val m = (p + q) / 2.0
    val rows = g.crossJoin(broadcast(t))
      .withColumn("contrib",
        when(col("c1") > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
        when(col("c2") > 0, lit(0.5) * q * log(q / m)).otherwise(lit(0.0)))
    val tot = rows.agg(expr(
      "aggregate(sort_array(collect_list(named_struct(" +
        "'pr', priority, 'c', contrib))), " +
        "cast(0.0 as double), (acc, x) -> acc + x.c)").as("js"))
    ord(
      rows.crossJoin(broadcast(tot))
        .select(col("priority"), col("c1").as("n_first"),
                col("c2").as("n_second"),
                r4(p).as("p_first"), r4(q).as("p_second"),
                // milli-nats: a near-null mix shift is ~1e-5 nats, which
                // rounds to 0.0000 — the ×1000 keeps the readout nonzero
                r4(col("contrib") * 1000.0).as("contrib_mnats"),
                r4(col("js") * 1000.0).as("js_total_mnats")),
      col("priority"))
  }

  /** q_brown_forsythe — Brown–Forsythe variance-homogeneity test of
    * order value across customer segments: the q_anova F statistic
    * recomputed on zᵢⱼ = |xᵢⱼ − med(group j)| — "do segments differ in
    * SPREAD", the assumption check that decides whether q_anova's
    * equal-variance F is even admissible (the median-centered form is
    * the robust standard; mean-centered Levene chases outliers).
    *
    * Determinism: x is exact integer dollars; the group median of
    * ints is dyadic, so 2·med rounds to an EXACT int64 and
    * zᵢⱼ is carried as the exact integer 2·|x − med| half-units —
    * F is scale-invariant, so the ×2 cancels; Σz² accumulates in
    * decimal(38,0) (clears int64 at 10×; DuckDB HUGEINT mirrors);
    * Σ_g S_g²/n_g folds in segment order (the q_anova ordered-fold
    * rule); SSB/SSW are reported in dollar² (÷4 spelled once).
    *
    * Scale shape: two fact-scale rollups (median per group via one
    * sort-based aggregate, then the moment rollup) on the same
    * |segments| keys; everything else rides the ≤5-row frame. At
    * 100 TB the exact median would bin first (q_percentile stance);
    * the moment pass is partial-aggregable. */
  def brownForsythe(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
              round(col("o_totalprice")).cast("long").as("x"))
    val med = o.groupBy(col("segment"))
      .agg(expr("cast(round(2 * percentile(x, 0.5D)) as bigint)").as("m2"))
    val z = o.join(broadcast(med), "segment")
      .select(col("segment"), abs(lit(2L) * col("x") - col("m2")).as("z2"))
    val g = z.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("z2")).as("sz"),
           sum(dec(col("z2")) * dec(col("z2"))).cast("decimal(38,0)").as("szz"))
    val t = g.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("nn"),
      sum(col("sz")).as("ts"),
      sum(col("szz")).cast("decimal(38,0)").as("tss"),
      expr("aggregate(sort_array(collect_list(named_struct(" +
           "'seg', segment, 'p', cast(sz as double) * sz / n))), " +
           "cast(0.0 as double), (acc, x) -> acc + x.p)").as("sum_gb"))
    val ssb = col("sum_gb") - col("ts").cast("double") * col("ts") / col("nn")
    val ssw = col("tss").cast("double") - col("sum_gb")
    ord(
      t.select(col("k"), col("nn").as("n"),
          r4(ssb / 4.0).as("ssb_dollar2"),
          r4(ssw / 4.0).as("ssw_dollar2"),
          r4((ssb / (col("k") - 1L)) /
             nullif(ssw / (col("nn") - col("k")), lit(0.0))).as("f_bf")),
      col("k"))
  }

  /** q_macd — MACD over daily order revenue: EMA₁₂ − EMA₂₆, a 9-day
    * signal EMA of the MACD line, the histogram, and the COUNT of
    * signal-line crossovers over the whole series — the trend-change
    * detector that completes the momentum family (q_rsi scores move
    * mix, q_stochastic range position; MACD times the turns, and the
    * crossover count is the one-number "how choppy was this series").
    * Emits the final state + crossover total (the per-day trace is
    * the fold's intermediate; the terminal reading is the monitor's).
    *
    * Determinism: the EMA recurrences are a SEQUENTIAL ordered fold
    * over the day-ranked series (the q_holt_winters machinery);
    * α constants are spelled as the same literal division (2/13,
    * 2/27, 0.2) on both engines, so every step is the identical IEEE
    * chain; crossover detection compares the SAME histogram double to
    * 0.0 on both sides (sign = strict >0 / <0 / else 0), and the
    * counter is exact int; init e12 = e26 = x₁, signal = 0.
    *
    * Scale shape: the fold runs over [[dailyRevSeq]] in ONE row; state
    * is 3 doubles + 2 ints. */
  def macd(s: SparkSession, d: String): DataFrame = {
    val e12p = "((2.0D / 13.0D) * CAST(y.cents AS DOUBLE) + " +
      "(1.0D - 2.0D / 13.0D) * acc.e12)"
    val e26p = "((2.0D / 27.0D) * CAST(y.cents AS DOUBLE) + " +
      "(1.0D - 2.0D / 27.0D) * acc.e26)"
    val macdp = s"($e12p - $e26p)"
    val sigp = s"(0.2D * $macdp + 0.8D * acc.sig)"
    val histp = s"($macdp - $sigp)"
    val signp = s"(CASE WHEN $histp > 0.0D THEN 1 " +
      s"WHEN $histp < 0.0D THEN -1 ELSE 0 END)"
    val folded = dailyRevSeq(dailyOrders(s, d))
      .agg(sort_array(collect_list(struct(col("rn"), col("cents")))).as("ys"))
      .withColumn("n_days", size(col("ys")))
      .withColumn("st", expr(
        s"""aggregate(slice(ys, 2, size(ys) - 1),
              named_struct('e12', CAST(element_at(ys, 1).cents AS DOUBLE),
                           'e26', CAST(element_at(ys, 1).cents AS DOUBLE),
                           'sig', CAST(0.0 AS DOUBLE),
                           'ls', 0, 'nc', 0),
              (acc, y) -> named_struct(
                'e12', $e12p,
                'e26', $e26p,
                'sig', $sigp,
                'ls', IF($signp != 0, $signp, acc.ls),
                'nc', acc.nc + IF($signp != 0 AND acc.ls != 0 AND
                                  $signp != acc.ls, 1, 0)))"""))
    ord(
      folded.select(col("n_days").cast("long").as("n_days"),
        r4(col("st.e12") / 100.0).as("ema12_rev"),
        r4(col("st.e26") / 100.0).as("ema26_rev"),
        r4((col("st.e12") - col("st.e26")) / 100.0).as("macd_rev"),
        r4(col("st.sig") / 100.0).as("signal_rev"),
        r4((col("st.e12") - col("st.e26") - col("st.sig")) / 100.0)
          .as("hist_rev"),
        col("st.nc").cast("long").as("n_crossovers")),
      col("n_days"))
  }

  /** q_kalman_filter — steady-state local-level Kalman filter over
    * daily order revenue (Q = 0.25, R = 1: the gain depends only on
    * Q/R, so the filter is scale-free): per step, predict P⁺ = P + Q,
    * gain K = P⁺/(P⁺ + R), update level += K·innovation — the
    * optimal-under-noise level tracker that q_trend_ewma approximates
    * with a FIXED α (the Kalman gain ADAPTS: high after gaps/starts,
    * converging to the steady state). Emits the final state (level,
    * variance, gain) and the mean absolute innovation — the model-fit
    * readout a forecast monitor thresholds.
    *
    * Determinism: a SEQUENTIAL ordered fold (q_holt_winters
    * machinery); Q, R and P₀ = 1 are dyadic literals, every step the
    * identical spelled IEEE chain on both engines; the |innovation|
    * accumulator is part of the same ordered fold (never an unordered
    * double sum); single-day series reports NULL mean innovation via
    * nullif(n−1).
    *
    * Scale shape: O(1) fold state over [[dailyRevSeq]]. */
  def kalmanFilter(s: SparkSession, d: String): DataFrame = {
    val ppp = "(acc.p + 0.25D)"
    val kp = s"($ppp / ($ppp + 1.0D))"
    val innovp = "(CAST(y.cents AS DOUBLE) - acc.lv)"
    val folded = dailyRevSeq(dailyOrders(s, d))
      .agg(sort_array(collect_list(struct(col("rn"), col("cents")))).as("ys"))
      .withColumn("n_days", size(col("ys")))
      .withColumn("st", expr(
        s"""aggregate(slice(ys, 2, size(ys) - 1),
              named_struct('lv', CAST(element_at(ys, 1).cents AS DOUBLE),
                           'p', CAST(1.0 AS DOUBLE),
                           'kg', CAST(0.0 AS DOUBLE),
                           'sa', CAST(0.0 AS DOUBLE)),
              (acc, y) -> named_struct(
                'lv', acc.lv + $kp * $innovp,
                'p', (1.0D - $kp) * $ppp,
                'kg', $kp,
                'sa', acc.sa + ABS($innovp)))"""))
    ord(
      folded.select(col("n_days").cast("long").as("n_days"),
        r4(col("st.lv") / 100.0).as("level_rev"),
        r4(col("st.p")).as("p_var"),
        r4(col("st.kg")).as("gain"),
        r4(col("st.sa") / 100.0 /
           nullif((col("n_days") - 1).cast("double"), lit(0.0)))
          .as("mean_abs_innov_rev")),
      col("n_days"))
  }

  /** q_jarque_bera — Jarque–Bera normality test of order value per
    * customer segment: skewness, excess-prone kurtosis and
    * JB = n/6·(S² + (K−3)²/4) from the first four moments — the
    * "can I even use a z-test here" gate beside q_anova (means) and
    * q_brown_forsythe (spreads); money columns are canonically
    * right-skewed and this quantifies by how much.
    *
    * Determinism: integer dollars; raw moments Σx..Σx⁴ accumulate in
    * decimal(38,0) (x⁴ ~10²³ · 10⁶ rows clears int64 by far; DuckDB
    * HUGEINT mirrors); central moments m₂/m₃/m₄ are ONE identically-
    * spelled expansion from those exact ints; a zero-variance segment
    * NULLs via nullif(m₂); r4 at output only.
    *
    * Scale shape: ONE partial-aggregable moment rollup per segment —
    * the cheapest possible test shape; everything after rides the
    * ≤|segments| frame. */
  def jarqueBera(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
              .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
              round(col("o_totalprice")).cast("long").as("x"))
    val g = o.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("x"))).cast("decimal(38,0)").as("s1"),
           sum(dec(col("x")) * dec(col("x"))).cast("decimal(38,0)").as("s2"),
           sum(dec(col("x")) * dec(col("x")) * dec(col("x")))
             .cast("decimal(38,0)").as("s3"),
           sum(dec(col("x")) * dec(col("x")) * dec(col("x")) * dec(col("x")))
             .cast("decimal(38,0)").as("s4"))
    val nd = col("n").cast("double")
    val mu = col("s1").cast("double") / nd
    val m2 = col("s2").cast("double") / nd - mu * mu
    val m3 = col("s3").cast("double") / nd -
      lit(3.0) * mu * (col("s2").cast("double") / nd) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / nd -
      lit(4.0) * mu * (col("s3").cast("double") / nd) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / nd) -
      lit(3.0) * mu * mu * mu * mu
    val sk = m3 / nullif(m2 * sqrt(m2), lit(0.0))
    val ku = m4 / nullif(m2 * m2, lit(0.0))
    ord(
      g.select(col("segment"), col("n"),
        r4(sk).as("skewness"),
        r4(ku).as("kurtosis"),
        r4(nd / 6.0 * (m3 * m3 / nullif(m2 * m2 * m2, lit(0.0)) +
                       (ku - 3.0) * (ku - 3.0) / 4.0)).as("jb")),
      col("segment"))
  }

  /** q_hurst — Hurst exponent of the daily order-count series by
    * rescaled-range (R/S) analysis at block sizes 8/16/32/64:
    * H ≈ 0.5 = memoryless, H > 0.5 = trending/persistent, H < 0.5 =
    * mean-reverting — the long-memory readout that q_autocorr's
    * single-lag view can't give (H summarizes ALL horizons in one
    * exponent), sizing how far ahead a forecast is even meaningful.
    *
    * Determinism: per block, m·Z_k = m·prefix_k − k·S and
    * m²·s²·m = m·Σc² − S² are EXACT int64 (counts are tiny), so each
    * block's R/S = (maxZ − minZ)/√(m·Σc² − S²) is one spelled chain
    * with ONE sqrt; per-size means fold valid blocks in BLOCK order
    * (q_anova rule); zero-variance blocks are excluded by guard on
    * both engines; H uses the closed-form dyadic-spacing OLS
    * (−1.5, −0.5, 0.5, 1.5)·ln(RS)/(5·ln 2) — no second regression
    * pass; partial trailing blocks are dropped (cnt = m only).
    *
    * Scale shape: the order counts of [[dailyOrders]]; every window
    * partitions by (size, block) over that frame; the per-size fold
    * collects ≤ n/8 block scalars. */
  def hurst(s: SparkSession, d: String): DataFrame = {
    val idx = dailyOrders(s, d).select(col("n_orders").as("c"),
      (row_number().over(Window.orderBy(col("day_num"))) - 1).as("i"))
    val nAll = idx.agg(count(lit(1)).as("n_days"))
    val sizes = Seq(8, 16, 32, 64)
    val sz = idx.sparkSession.range(0, 4)
      .select(element_at(array(sizes.map(lit): _*),
                         (col("id") + 1).cast("int")).as("m"))
    val rows = idx.crossJoin(broadcast(sz))
      .withColumn("blk", expr("i DIV m"))
      .withColumn("k", expr("i % m + 1"))
    val wPre = Window.partitionBy(col("m"), col("blk"))
      .orderBy(col("k")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("m"), col("blk"))
    val zr = rows
      .withColumn("pre", sum(col("c")).over(wPre))
      .withColumn("sb", sum(col("c")).over(wAll))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .withColumn("mz", col("m") * col("pre") - col("k") * col("sb"))
    val blocks = zr.filter(col("cnt") === col("m"))
      .groupBy(col("m"), col("blk"))
      .agg((max(col("mz")) - min(col("mz"))).as("rm"),
           (first(col("m")) * sum(col("c") * col("c")) -
            first(col("sb")) * first(col("sb"))).as("msxx"))
      .withColumn("rs",
        when(col("msxx") > 0,
             col("rm").cast("double") / sqrt(col("msxx").cast("double"))))
    val perSize = blocks.groupBy(col("m"))
      .agg(count(col("rs")).as("nv"),
           expr("aggregate(sort_array(collect_list(IF(rs IS NOT NULL, " +
             "named_struct('b', blk, 'r', rs), NULL))), 0.0D, " +
             "(acc, x) -> acc + x.r)").as("srs"))
      .select(col("m"),
        (col("srs") / nullif(col("nv").cast("double"), lit(0.0))).as("mrs"))
    val piv = perSize.agg(
      sum(when(col("m") === 8, col("mrs"))).as("r8"),
      sum(when(col("m") === 16, col("mrs"))).as("r16"),
      sum(when(col("m") === 32, col("mrs"))).as("r32"),
      sum(when(col("m") === 64, col("mrs"))).as("r64"))
    ord(
      nAll.crossJoin(broadcast(piv))
        .select(col("n_days"),
          r4(col("r8")).as("rs8"), r4(col("r16")).as("rs16"),
          r4(col("r32")).as("rs32"), r4(col("r64")).as("rs64"),
          r4((lit(-1.5) * log(col("r8")) - lit(0.5) * log(col("r16")) +
              lit(0.5) * log(col("r32")) + lit(1.5) * log(col("r64"))) /
             (lit(5.0) * log(lit(2.0)))).as("hurst")),
      col("n_days"))
  }

  /** q_dtw_distance — dynamic time warping between each nation's
    * monthly order-count curve and the GLOBAL monthly curve: the
    * elastic curve distance that survives phase shifts (a nation
    * whose seasonality runs a month late scores near-zero where
    * q_rolling_corr collapses), ranking which markets' demand SHAPE
    * tracks the aggregate. Both curves are mass-normalized by their
    * totals so level cancels and only shape is compared.
    *
    * Determinism: the ENTIRE DP runs in exact int64 — the normalized
    * cost |aᵢ/S_A − gⱼ/S_G| is carried as the integer cross product
    * |aᵢ·S_G − gⱼ·S_A| (common denominator S_A·S_G divides ONCE at
    * the end), the ∞ border is a large integer literal, and min/+
    * over ints is order-free; the row-by-row fold replays identically
    * in DuckDB via nested list_reduce (list-typed state; the init is
    * prepended, scalars ride single-element lists so the element type
    * matches). A nation with no orders reports NULL via the border
    * sentinel; every nation surfaces (spine rule).
    *
    * Scale shape: two partial-aggregable month rollups; the
    * |months|²-per-nation DP is pure expression work on 25 one-array
    * rows; the global curve broadcasts. At 100 TB only the rollups
    * grow — months stay calendar-bounded. */
  def dtwDistance(s: SparkSession, d: String): DataFrame = {
    val inf = "CAST(1000000000000000 AS BIGINT)"
    val o = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
              .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
              date_trunc("month", col("o_orderdate")).cast("date").as("month"))
    val nat = o.groupBy(col("nk"), col("month"))
      .agg(count(lit(1)).as("cn"))
      .groupBy(col("nk"))
      .agg(sort_array(collect_list(struct(col("month"), col("cn"))))
             .as("narr"),
           sum(col("cn")).as("sa"))
    val glob = o.groupBy(col("month")).agg(count(lit(1)).as("cg"))
      .agg(sort_array(collect_list(struct(col("month"), col("cg"))))
             .as("garr"),
           sum(col("cg")).as("sg"))
    val folded = nat.crossJoin(broadcast(glob))
      .withColumn("dp", expr(
        s"""aggregate(narr,
              concat(array(CAST(0 AS BIGINT)),
                     transform(garr, x -> $inf)),
              (prev, a) -> aggregate(garr, array($inf),
                (row, g) -> concat(row, array(
                  abs(a.cn * sg - g.cg * sa) +
                  least(element_at(prev, size(row) + 1),
                        element_at(prev, size(row)),
                        element_at(row, size(row)))))))"""))
      .withColumn("dtw_int", expr("element_at(dp, size(garr) + 1)"))
    ord(
      Tables.nation(s, d)
        .join(broadcast(folded), col("n_nationkey") === col("nk"), "left")
        .select(col("n_nationkey").as("nationkey"), col("n_name").as("nation"),
          coalesce(size(col("narr")), lit(0)).cast("long").as("n_months"),
          when(col("dtw_int") < expr(inf),
            r4(col("dtw_int").cast("double") /
               (col("sa").cast("double") * col("sg").cast("double"))))
            .as("dtw")),
      col("nationkey"))
  }

  /** q_kruskal_wallis — Kruskal–Wallis rank test of order value
    * across customer segments, tie-corrected: H = [12/(N(N+1))·
    * Σ R_j²/n_j − 3(N+1)] / (1 − ΣT/(N³−N)) — the nonparametric
    * companion to q_anova (q_anova needs normal-ish residuals, which
    * q_jarque_bera just showed money columns don't have; KW only
    * needs ranks, so it is the test that is actually admissible).
    *
    * Determinism: ranks never materialize per row — the DISTINCT-
    * value rollup carries each value's tie count t and the count
    * before it, so the tied midrank ×2 = 2·cumBefore + t + 1 is an
    * EXACT int64 and each segment's doubled rank sum R2_j is an
    * exact int64 dot product; Σ R_j²/n_j folds per segment in
    * segment order (the q_anova rule) as (R2·R2/4n) doubles from
    * exact ints; the tie term Σ(t³−t) and N³−N ride decimal(38,0)
    * (N³ clears int64 at 10×; DuckDB HUGEINT); H is one spelled
    * chain, r4'd.
    *
    * Scale shape: one (segment, value) rollup, one value rollup, a
    * cumulative window over the DISTINCT-value frame (value-domain
    * bounded — the q_mann_whitney stance), one |segments| fold. */
  def kruskalWallis(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
              .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
              round(col("o_totalprice")).cast("long").as("v"))
    val sv = o.groupBy(col("segment"), col("v")).agg(count(lit(1)).as("cnt"))
    val vt = graft.functions.Dist.prefix(
        sv.groupBy(col("v")).agg(sum(col("cnt")).as("t")),
        Nil, Seq(col("v")), cums = Seq("__ct" -> col("t")))
      .withColumn("cb", col("__ct") - col("t")).drop("__ct")
    val segR = sv.join(vt, "v")
      .groupBy(col("segment"))
      .agg(sum(col("cnt")).as("nj"),
           sum(col("cnt") * (lit(2L) * col("cb") + col("t") + lit(1L)))
             .as("r2j"))
    val ties = vt.agg(
      sum(col("t")).as("n"),
      (sum(dec(col("t")) * dec(col("t")) * dec(col("t"))) - sum(dec(col("t"))))
        .cast("decimal(38,0)").as("st"))
    val t = segR.agg(
      count(lit(1)).as("k"),
      expr("aggregate(sort_array(collect_list(named_struct(" +
           "'seg', segment, 'p', cast(r2j as double) * r2j / (4.0D * nj)))), " +
           "cast(0.0 as double), (acc, x) -> acc + x.p)").as("srr"))
    val nd = col("n").cast("double")
    val hRaw = lit(12.0) * col("srr") / (nd * (nd + 1.0)) -
      lit(3.0) * (nd + 1.0)
    val corr = lit(1.0) - col("st").cast("double") /
      (dec(col("n")) * dec(col("n")) * dec(col("n")) - dec(col("n")))
        .cast("double")
    ord(
      t.crossJoin(broadcast(ties))
        .select(col("k"), col("n"),
          r4(hRaw).as("h"),
          r4(hRaw / nullif(corr, lit(0.0))).as("h_tie_corrected")),
      col("k"))
  }

  /** q_tail_index — Hill estimator of the spend tail over the top-100
    * order values: mean ln(x_(i)/x_(101)) and the tail index
    * α = 1/Hill — "how heavy is the big-ticket tail" as one number
    * (α < 2: variance effectively infinite, q_gini/q_abc_pareto
    * describe concentration but not tail law; this is the
    * extreme-value readout capacity planning thresholds on).
    *
    * Determinism: the top-101 cut is totally ordered by
    * (cents DESC, orderkey) — the q_zipf TakeOrdered stance; each
    * ln(xᵢ/x₁₀₁) is one spelled chain over exact ints; the mean folds
    * the 100 terms in RANK order; fewer than 101 orders → NULL (the
    * 1-row summary still surfaces); a flat tail (Hill = 0) NULLs α
    * via nullif.
    *
    * Scale shape: TakeOrderedAndProject keeps the cut
    * constant-bounded at any corpus size; everything downstream rides
    * 101 rows. */
  def tailIndex(s: SparkSession, d: String): DataFrame = {
    val top = Tables.orders(s, d)
      .select(expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
              col("o_orderkey"))
      .orderBy(col("cents").desc, col("o_orderkey"))
      .limit(101)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cents").desc, col("o_orderkey"))))
    val xt = top.filter(col("rn") === 101)
      .select(col("cents").as("xt"))
    val agg = top.filter(col("rn") <= 100)
      .crossJoin(broadcast(xt))
      .agg(count(lit(1)).as("nk"),
           first(col("xt")).as("xthr"),
           expr("aggregate(sort_array(collect_list(named_struct(" +
             "'r', rn, 't', ln(cast(cents as double) / cast(xt as double)" +
             ")))), cast(0.0 as double), (acc, x) -> acc + x.t)").as("slog"))
    val hill = col("slog") / 100.0
    ord(
      agg.select(
        col("nk").as("k"),
        r4(col("xthr").cast("double") / 100.0).as("threshold_rev"),
        when(col("nk") === 100, r4(hill)).as("hill"),
        when(col("nk") === 100, r4(lit(1.0) / nullif(hill, lit(0.0))))
          .as("alpha")),
      col("k"))
  }

  /** q_permutation_test — exact-style randomization test for the A/B
    * mean per-user revenue difference: 200 DETERMINISTIC
    * re-randomizations (each user's replicate arm is the md5 parity
    * of user:replicate — the q_bootstrap_ci hash-gate idiom, so
    * re-runs and the oracle reassign identically with no RNG state),
    * p = (1 + #{|T_r| ≥ |T_obs|})/201 — the assumption-free p-value
    * q_ab_test's normal approximation can't give on skewed revenue
    * (q_jarque_bera shows exactly that skew), with the +1 smoothing
    * that keeps p > 0 honest at finite B.
    *
    * Determinism: per-replicate arm sums/counts are exact int64; every
    * T is the SAME spelled two-division chain, so the ≥ comparison
    * resolves identically on both engines; replicates with an empty
    * arm yield NULL T and count as not-extreme (guarded, both sides);
    * p is one division of exact ints.
    *
    * Scale shape: ONE per-user rollup, then the q_bootstrap_ci
    * map-side replicate expansion — a broadcast 200-row crossJoin
    * feeding a partial-aggregable groupBy(replicate), so the shuffle
    * is O(B × partitions), never O(users × B); 200 md5s per user is
    * the honest randomization cost at any scale. */
  def permutationTest(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .iterCut(true)
    val tOf = (sa: Column, na: Column, sb: Column, nb: Column) =>
      when(na > 0 && nb > 0,
        sa.cast("double") / na.cast("double") -
        sb.cast("double") / nb.cast("double"))
    val obs = users
      .withColumn("pa",
        expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2"))
      .agg(sum(when(col("pa") === 0, col("cents")).otherwise(0L)).as("sa"),
           sum(when(col("pa") === 0, 1L).otherwise(0L)).as("na"),
           sum(when(col("pa") =!= 0, col("cents")).otherwise(0L)).as("sb"),
           sum(when(col("pa") =!= 0, 1L).otherwise(0L)).as("nb"))
      .select((col("na") + col("nb")).as("n_users"),
              tOf(col("sa"), col("na"), col("sb"), col("nb")).as("t_obs"))
    val reps = s.range(1, 201).select(col("id").cast("int").as("b"))
    val tr = users.crossJoin(broadcast(reps))
      .withColumn("pa", expr(
        "conv(substring(md5(concat(cast(user_id as string), ':', " +
          "cast(b as string))), 1, 8), 16, 10) % 2"))
      .groupBy(col("b"))
      .agg(sum(when(col("pa") === 0, col("cents")).otherwise(0L)).as("sa"),
           sum(when(col("pa") === 0, 1L).otherwise(0L)).as("na"),
           sum(when(col("pa") =!= 0, col("cents")).otherwise(0L)).as("sb"),
           sum(when(col("pa") =!= 0, 1L).otherwise(0L)).as("nb"))
      .select(col("b"), tOf(col("sa"), col("na"), col("sb"), col("nb")).as("t"))
    val cmp = tr.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_replicates"),
           sum(when(abs(col("t")) >= abs(col("t_obs")), 1L).otherwise(0L))
             .as("n_extreme"))
    ord(
      obs.crossJoin(broadcast(cmp))
        .select(col("n_users"),
          r4(col("t_obs") / 100.0).as("t_obs_rev"),
          col("n_replicates"), col("n_extreme"),
          when(col("t_obs").isNotNull,
            r4((lit(1L) + col("n_extreme")).cast("double") /
               (lit(1L) + col("n_replicates")).cast("double")))
            .as("p_value")),
      col("n_users"))
  }

  /** q_control_chart — Western Electric control-chart rules over
    * daily order revenue: per day the global z-score plus the four
    * textbook signals — R1 one point beyond 3σ, R2 two of three
    * beyond 2σ same side, R3 four of five beyond 1σ same side, R4
    * eight consecutive on one side of center — the ops-monitoring
    * sequel to q_anomaly (a single 3σ spike and a slow 8-day drift
    * are DIFFERENT alarms; the rules name which fired).
    *
    * Determinism: center/σ come from exact decimal(38,0) global
    * moments (cents² clears int64 — the q_bollinger idiom; DuckDB
    * HUGEINT), z = (n·x − Σx)/√(n·Σx² − (Σx)²) is the q_zscore_scale
    * spelled chain; every rule is an integer COUNT over a ROWS frame
    * of indicators derived from the SAME z double, so the boolean
    * outputs agree bit-for-bit; a zero-variance series NULLs z and
    * reads all rules false on both engines.
    *
    * Scale shape: the rule windows ride [[dailyOrders]], with one 1-row
    * broadcast moment frame. */
  def controlChart(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val mom = daily.agg(count(lit(1)).as("n"),
      sum(dec(col("cents"))).cast("decimal(38,0)").as("s1"),
      sum(dec(col("cents")) * dec(col("cents"))).cast("decimal(38,0)").as("s2"))
    val z = (dec(col("n")) * dec(col("cents")) - col("s1")).cast("double") /
      nullif(sqrt((dec(col("n")) * col("s2") - col("s1") * col("s1"))
                    .cast("double")), lit(0.0))
    val zd = daily.crossJoin(broadcast(mom)).withColumn("z", z)
    def w(k: Int) = Window.orderBy(col("day_num")).rowsBetween(-(k - 1), 0)
    val flags = zd
      .withColumn("r1", col("z") > 3.0 || col("z") < -3.0)
      .withColumn("r2",
        sum(when(col("z") > 2.0, 1).otherwise(0)).over(w(3)) >= 2 ||
        sum(when(col("z") < -2.0, 1).otherwise(0)).over(w(3)) >= 2)
      .withColumn("r3",
        sum(when(col("z") > 1.0, 1).otherwise(0)).over(w(5)) >= 4 ||
        sum(when(col("z") < -1.0, 1).otherwise(0)).over(w(5)) >= 4)
      .withColumn("r4",
        sum(when(col("z") > 0.0, 1).otherwise(0)).over(w(8)) === 8 ||
        sum(when(col("z") < 0.0, 1).otherwise(0)).over(w(8)) === 8)
    ord(
      flags.select(col("day_num"),
        r4(col("cents").cast("double") / 100.0).as("rev"),
        r4(col("z")).as("z"),
        coalesce(col("r1"), lit(false)).as("rule1"),
        coalesce(col("r2"), lit(false)).as("rule2"),
        coalesce(col("r3"), lit(false)).as("rule3"),
        coalesce(col("r4"), lit(false)).as("rule4"),
        coalesce(col("r1") || col("r2") || col("r3") || col("r4"),
                 lit(false)).as("any_signal")),
      col("day_num"))
  }

  /** q_page_hinkley — Page–Hinkley sequential drift detector over the
    * GLOBALLY z-scored daily revenue series (δ = 0.05, λ = 10):
    * mₜ = Σ(zᵢ − δ), PH = mₜ − min mₜ, alarm when PH first clears λ —
    * the ONLINE upward-drift monitor beside q_cusum (which scores the
    * whole series offline) and q_changepoint (which locates the best
    * single split): PH answers "on which DAY would a live monitor
    * have fired".
    *
    * Determinism: z feeds from exact decimal moments through the
    * q_zscore_scale chain; the fold is SEQUENTIAL in day order
    * (q_holt_winters machinery) with dyadic-free but identically-
    * spelled accumulation; first-crossing day and the running min are
    * part of the same ordered fold, so both engines agree exactly; a
    * zero-variance series (NULL z) folds zero deviations and never
    * fires.
    *
    * Scale shape: O(1) fold state over [[dailyRevSeq]] plus one
    * broadcast moment frame. */
  def pageHinkley(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val mom = daily.agg(count(lit(1)).as("n"),
      sum(dec(col("cents"))).cast("decimal(38,0)").as("s1"),
      sum(dec(col("cents")) * dec(col("cents"))).cast("decimal(38,0)").as("s2"))
    val zExpr = "(CAST(n AS DOUBLE) * CAST(y.cents AS DOUBLE) - " +
      "CAST(s1 AS DOUBLE)) / sq"
    val folded = dailyRevSeq(daily)
      .agg(sort_array(collect_list(struct(col("rn"), col("cents")))).as("ys"))
      .crossJoin(broadcast(mom))
      .withColumn("sq", nullif(sqrt(
        (dec(col("n")) * col("s2") - col("s1") * col("s1")).cast("double")),
        lit(0.0)))
      .withColumn("st", expr(
        s"""aggregate(ys,
              named_struct('mt', CAST(0.0 AS DOUBLE),
                           'mn', CAST(0.0 AS DOUBLE),
                           'det', 0),
              (acc, y) -> named_struct(
                'mt', acc.mt + ($zExpr - 0.05D),
                'mn', LEAST(acc.mn, acc.mt + ($zExpr - 0.05D)),
                'det', IF(acc.det = 0 AND
                          acc.mt + ($zExpr - 0.05D) -
                          LEAST(acc.mn, acc.mt + ($zExpr - 0.05D)) > 10.0D,
                          y.rn, acc.det)))"""))
    ord(
      folded.select(
        size(col("ys")).cast("long").as("n_days"),
        when(col("sq") > 0.0, r4(col("st.mt") - col("st.mn"))).as("ph_stat"),
        (col("sq") > 0.0 && col("st.det") > 0).as("detected"),
        when(col("st.det") > 0 && col("sq") > 0.0, col("st.det"))
          .as("detect_day_rank")),
      col("n_days"))
  }

  /** q_odds_ratio — odds ratio of 24 h conversion between the
    * md5-parity arms with the Woolf 95% CI: OR = (a·d)/(b·c),
    * CI = exp(ln OR ± 1.96·√(1/a + 1/b + 1/c + 1/d)) — the effect
    * measure q_ab_test's rate difference can't give when base rates
    * differ (OR is what meta-analyses and logistic models speak), CI
    * included so "significant" is read off one row.
    *
    * Determinism: the 2×2 cells are exact int64 under the q_ab_test
    * conversion rule; OR / ln OR / SE / bounds are ONE identically-
    * spelled chain, each r4'd once; any empty cell NULLs the whole
    * readout via nullif (the standard OR failure mode, surfaced not
    * patched — no 0.5 continuity fudge that would bake a convention
    * into the engine).
    *
    * Scale shape: one per-user rollup (partial-aggregable), one
    * 4-cell fold — the q_ab_test shape. */
  def oddsRatio(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(epochSec(col("ts"))).as("first_sec"),
           min(when(col("event_type") === "purchase", epochSec(col("ts"))))
             .as("first_purch"))
      .withColumn("conv",
        when(col("first_purch").isNotNull &&
             col("first_purch") - col("first_sec") <= 86400, 1L).otherwise(0L))
      .withColumn("pa",
        expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2"))
    val cells = users.agg(
      sum(when(col("pa") === 0 && col("conv") === 1L, 1L).otherwise(0L)).as("a"),
      sum(when(col("pa") === 0 && col("conv") === 0L, 1L).otherwise(0L)).as("b"),
      sum(when(col("pa") =!= 0 && col("conv") === 1L, 1L).otherwise(0L)).as("c"),
      sum(when(col("pa") =!= 0 && col("conv") === 0L, 1L).otherwise(0L)).as("d"))
    val orr = (col("a").cast("double") * col("d").cast("double")) /
      nullif(col("b").cast("double") * col("c").cast("double"), lit(0.0))
    val se = sqrt(lit(1.0) / nullif(col("a").cast("double"), lit(0.0)) +
                  lit(1.0) / nullif(col("b").cast("double"), lit(0.0)) +
                  lit(1.0) / nullif(col("c").cast("double"), lit(0.0)) +
                  lit(1.0) / nullif(col("d").cast("double"), lit(0.0)))
    ord(
      cells.select(col("a"), col("b"), col("c"), col("d"),
        r4(orr).as("odds_ratio"),
        r4(exp(log(orr) - lit(1.96) * se)).as("ci_lo"),
        r4(exp(log(orr) + lit(1.96) * se)).as("ci_hi")),
      col("a"))
  }

  /** q_capture_recapture — Lincoln–Petersen / Chapman estimate of the
    * TRUE user population from two SINGLE-DAY censuses (the stream's
    * first and second observed day): N̂ = n₁·n₂/m (and Chapman's
    * bias-corrected (n₁+1)(n₂+1)/(m+1) − 1) — "how many users exist
    * that neither snapshot saw", the ecology estimator that recovers
    * the monthly population from two daily looks; n_observed (the
    * full stream's distinct users) rides along as the ground the
    * estimate is judged against. Day-level occasions are the point:
    * calendar-half sets are saturated (every user appears in both),
    * which reads "census complete" and estimates nothing.
    *
    * Determinism: the occasions are exact integer days (min day and
    * min day + 1); n₁/n₂/overlap are exact int64; both estimators
    * are ONE division of exact products (≤ n² ≈ 10¹⁴ at 10×), r4'd;
    * zero overlap NULLs Lincoln–Petersen via nullif while Chapman
    * stays finite (its whole point — spelled on both engines).
    *
    * Scale shape: one per-user rollup with two indicator maxes — a
    * single partial-aggregable shuffle on user_id; the 1-row
    * estimate frame ends it. */
  def captureRecapture(s: SparkSession, d: String): DataFrame = {
    val d0 = Tables.events(s, d)
      .select(col("user_id"),
              expr("unix_timestamp(ts) DIV 86400").as("day"))
    val b = d0.agg(min(col("day")).as("mn"))
    val per = d0.crossJoin(broadcast(b)).groupBy(col("user_id"))
      .agg(max(when(col("day") === col("mn"), 1L).otherwise(0L)).as("in1"),
           max(when(col("day") === col("mn") + 1L, 1L).otherwise(0L))
             .as("in2"))
    val t = per.agg(sum(col("in1")).as("n1"), sum(col("in2")).as("n2"),
                    sum(col("in1") * col("in2")).as("m"),
                    count(lit(1)).as("n_observed"))
    ord(
      t.select(col("n1"), col("n2"), col("m").as("overlap"),
        col("n_observed"),
        r4((col("n1") * col("n2")).cast("double") /
           nullif(col("m").cast("double"), lit(0.0))).as("n_lincoln"),
        r4(((col("n1") + 1L) * (col("n2") + 1L)).cast("double") /
           (col("m") + 1L).cast("double") - lit(1.0)).as("n_chapman")),
      col("n1"))
  }

  /** q_runs_test — Wald–Wolfowitz runs test of the daily revenue
    * series against its own median: count the runs of
    * above/below-median days, compare to the exact null moments
    * μ = 2n₁n₂/n + 1, σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)) — the
    * assumption-free "is this series even random" gate the rest of
    * the ts family implicitly needs (q_hurst grades memory strength;
    * the runs test says whether zero-memory is already rejected).
    *
    * Determinism: the series median of int64 cents is dyadic, so the
    * above/below classification compares 2·cents to the EXACT int
    * 2·med (q_brown_forsythe idiom) and equal-to-median days are
    * excluded (the textbook rule, spelled identically); runs/n₁/n₂
    * are exact int64 (2n₁n₂ ≤ n² ≈ 10⁷ — far inside range); μ/σ/z
    * are one spelled chain, z NULL via nullif on a one-sided series.
    *
    * Scale shape: [[dailyOrders]], one 1-row median frame broadcast,
    * one lag over the filtered day frame. */
  def runsTest(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val med = daily.agg(
      expr("cast(round(2 * percentile(cents, 0.5D)) as bigint)").as("m2"))
    val cls = daily.crossJoin(broadcast(med))
      .filter(lit(2L) * col("cents") =!= col("m2"))
      .select(col("day_num"),
        when(lit(2L) * col("cents") > col("m2"), 1).otherwise(0).as("s"))
    val runs = cls
      .withColumn("prev", lag(col("s"), 1).over(Window.orderBy(col("day_num"))))
      .agg(count(lit(1)).as("n"),
           sum(col("s").cast("long")).as("n1"),
           sum(when(col("prev").isNull || col("s") =!= col("prev"), 1L)
                 .otherwise(0L)).as("r"))
    val n1 = col("n1").cast("double")
    val n2 = (col("n") - col("n1")).cast("double")
    val nd = col("n").cast("double")
    val mu = lit(2.0) * n1 * n2 / nd + 1.0
    val sg = sqrt(lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nd) /
                  (nd * nd * (nd - 1.0)))
    ord(
      runs.select(col("n").as("n_days_used"),
        col("n1").as("n_above"), (col("n") - col("n1")).as("n_below"),
        col("r").as("n_runs"),
        r4(mu).as("expected_runs"),
        r4((col("r").cast("double") - mu) / nullif(sg, lit(0.0))).as("z")),
      col("n_days_used"))
  }

  /** q_turning_points — turning-point test of the daily revenue
    * series: count strict local maxima/minima, compare to the exact
    * null moments E = 2(n−2)/3, Var = (16n − 29)/90 — the
    * second randomness gate (the runs test sees level persistence;
    * this sees local oscillation — too FEW turns = trend, too MANY =
    * negative autocorrelation).
    *
    * Determinism: turning points are strict integer comparisons on
    * exact cents via lag/lead — ties produce no turn on either
    * engine; T and n are exact int64; E/Var/z one spelled chain,
    * NULL z below n = 3 via nullif.
    *
    * Scale shape: one lag/lead window over [[dailyOrders]], one 1-row
    * fold. */
  def turningPoints(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val w = Window.orderBy(col("day_num"))
    val t = daily
      .withColumn("p", lag(col("cents"), 1).over(w))
      .withColumn("x", lead(col("cents"), 1).over(w))
      .agg(count(lit(1)).as("n"),
           sum(when((col("p") < col("cents") && col("cents") > col("x")) ||
                    (col("p") > col("cents") && col("cents") < col("x")),
                    1L).otherwise(0L)).as("t"))
    val nd = col("n").cast("double")
    val e = lit(2.0) * (nd - 2.0) / 3.0
    val v = (lit(16.0) * nd - 29.0) / 90.0
    ord(
      t.select(col("n").as("n_days"), col("t").as("n_turning"),
        when(col("n") >= 3, r4(e)).as("expected_turning"),
        when(col("n") >= 3,
          r4((col("t").cast("double") - e) / nullif(sqrt(v), lit(0.0))))
          .as("z")),
      col("n_days"))
  }

  /** q_value_at_risk — historical VaR₉₅ and expected shortfall of the
    * DAILY REVENUE CHANGE (the business P&L series): VaR is the
    * 5th-percentile worst day-over-day drop, ES the mean of the tail
    * at or beyond it — the risk pair every capacity/cash planner
    * quotes (VaR = the threshold, ES = how bad the bad days actually
    * are; q_percentile quantiles a static column, this quantiles the
    * CHANGE series with the tail mean attached).
    *
    * Determinism: deltas are exact int64 cents; the tail cut is a
    * MANUAL order-statistic bracket on the uniquely-ordered
    * (delta, day) rank at index ⌈0.05·n⌉ (the q_bootstrap_ci rule —
    * never engine quantile interpolation); ES is one division of an
    * exact tail sum by an exact count; fewer than 20 deltas → NULL
    * (the bracket would sit at index 0).
    *
    * Scale shape: the rank runs over the delta frame of
    * [[dailyOrders]]; two exact rollups end it. */
  def valueAtRisk(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val deltas = daily
      .withColumn("prev", lag(col("cents"), 1).over(
        Window.orderBy(col("day_num"))))
      .filter(col("prev").isNotNull)
      .select(col("day_num"), (col("cents") - col("prev")).as("dl"))
    val ranked = deltas.withColumn("rn", row_number().over(
      Window.orderBy(col("dl"), col("day_num"))))
    val t = ranked
      .withColumn("n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)))
      .withColumn("k", expr("CAST((n * 5 + 99) DIV 100 AS INT)"))
      .agg(max(col("n")).as("n_deltas"),
           max(when(col("rn") === col("k"), col("dl"))).as("var_cents"),
           sum(when(col("rn") <= col("k"), col("dl"))).as("tail_sum"),
           sum(when(col("rn") <= col("k"), 1L).otherwise(0L)).as("tail_n"))
    ord(
      t.select(col("n_deltas"),
        when(col("n_deltas") >= 20,
          r4(-col("var_cents").cast("double") / 100.0)).as("var95_rev"),
        when(col("n_deltas") >= 20,
          r4(-col("tail_sum").cast("double") /
             nullif(col("tail_n").cast("double"), lit(0.0)) / 100.0))
          .as("es95_rev")),
      col("n_deltas"))
  }

  /** q_cohens_d — standardized effect size of the md5-parity arm
    * split on order value: Cohen's d = (μ_A − μ_B)/s_pooled with the
    * Hedges' g small-sample correction — the CONTINUOUS-metric effect
    * tier beside q_odds_ratio's binary one (q_ttest_welch says
    * "significant?"; d says "HOW BIG in noise units", the number
    * power planning and meta-analysis actually consume).
    *
    * Determinism: per-arm moments in decimal(38,0) dollars (the
    * q_jarque_bera idiom); pooled variance and d are one spelled
    * chain over those exact ints; Hedges J = 1 − 3/(4·df − 1) spelled
    * identically; an empty or variance-free arm NULLs via nullif.
    *
    * Scale shape: ONE partial-aggregable two-group moment rollup —
    * the cheapest possible shape. */
  def cohensD(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      round(col("o_totalprice")).cast("long").as("x"),
      when(expr("conv(substring(md5(cast(o_custkey as string)), 1, 8), 16, 10) % 2") === 0,
           "A").otherwise("B").as("arm"))
    val g = o.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "A", dec(col("x"))).otherwise(dec(lit(0L))))
        .cast("decimal(38,0)").as("sa"),
      sum(when(col("arm") === "A", dec(col("x")) * dec(col("x")))
            .otherwise(dec(lit(0L)))).cast("decimal(38,0)").as("ssa"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === "B", dec(col("x"))).otherwise(dec(lit(0L))))
        .cast("decimal(38,0)").as("sb"),
      sum(when(col("arm") === "B", dec(col("x")) * dec(col("x")))
            .otherwise(dec(lit(0L)))).cast("decimal(38,0)").as("ssb"))
    val nad = col("na").cast("double")
    val nbd = col("nb").cast("double")
    val ma = col("sa").cast("double") / nullif(nad, lit(0.0))
    val mb = col("sb").cast("double") / nullif(nbd, lit(0.0))
    val va = (col("ssa").cast("double") - ma * ma * nad) / (nad - 1.0)
    val vb = (col("ssb").cast("double") - mb * mb * nbd) / (nbd - 1.0)
    val sp = sqrt(((nad - 1.0) * va + (nbd - 1.0) * vb) /
                  (nad + nbd - 2.0))
    val dd = (ma - mb) / nullif(sp, lit(0.0))
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * (nad + nbd - 2.0) - 1.0)
    ord(
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        r4(ma).as("mean_a"), r4(mb).as("mean_b"),
        r4(dd).as("cohens_d"),
        r4(j * dd).as("hedges_g")),
      col("n_a"))
  }

  /** q_partial_corr — first-order partial correlation of per-ORDER
    * total quantity and total price CONTROLLING for the order's line
    * count: r_xy·z = (r_xy − r_xz·r_yz)/√((1 − r_xz²)(1 − r_yz²)) —
    * the confound-removal step between q_stats_agg's raw correlations
    * and q_regression's full model, and on this corpus the textbook
    * demonstration: quantity and price read r ≈ 0.74 RAW, but both
    * merely scale with line count (r ≈ 0.86 each), and the partial
    * collapses to ≈ −0.01 — the "correlation that vanishes under its
    * confound", auditable because all three raw r's ride along.
    *
    * Determinism: x (quantity units), y (price cents), z (line
    * count) are exact int64 per-order sums; all nine sufficient
    * moments ride decimal(38,0) (n·Σy² ≈ 10²⁸ at sf0.1; DuckDB
    * HUGEINT); each r and the partial are identically-spelled chains
    * with nullif on zero variance or a degenerate (|r| = 1) control.
    *
    * Scale shape: one partial-aggregable per-order rollup, then ONE
    * nine-moment rollup — the cheapest multivariate shape; everything
    * after is 1-row math. */
  def partialCorr(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("x"),
           sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("y"),
           count(lit(1)).as("z"))
    val g = li.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).cast("decimal(38,0)").as("sx"),
      sum(dec(col("y"))).cast("decimal(38,0)").as("sy"),
      sum(dec(col("z"))).cast("decimal(38,0)").as("sz"),
      sum(dec(col("x")) * dec(col("x"))).cast("decimal(38,0)").as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).cast("decimal(38,0)").as("syy"),
      sum(dec(col("z")) * dec(col("z"))).cast("decimal(38,0)").as("szz"),
      sum(dec(col("x")) * dec(col("y"))).cast("decimal(38,0)").as("sxy"),
      sum(dec(col("x")) * dec(col("z"))).cast("decimal(38,0)").as("sxz"),
      sum(dec(col("y")) * dec(col("z"))).cast("decimal(38,0)").as("syz"))
    def rOf(spq: Column, sp: Column, sq: Column,
            spp: Column, sqq: Column): Column =
      (dec(col("n")) * spq - sp * sq).cast("double") /
        nullif(sqrt((dec(col("n")) * spp - sp * sp).cast("double")) *
               sqrt((dec(col("n")) * sqq - sq * sq).cast("double")), lit(0.0))
    val rxy = rOf(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = rOf(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = rOf(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    ord(
      g.select(col("n"),
        r4(rxy).as("r_xy"), r4(rxz).as("r_xz"), r4(ryz).as("r_yz"),
        r4((rxy - rxz * ryz) /
           nullif(sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)),
                  lit(0.0))).as("partial_r_xy_z")),
      col("n"))
  }

  /** q_sharpe — risk-adjusted trend of the daily revenue CHANGE
    * series: per-day Sharpe (mean/σ of day-over-day deltas) and
    * Sortino (mean over DOWNSIDE deviation, target 0) with the raw
    * ingredients alongside — the companion number to q_value_at_risk
    * (VaR/ES say how bad the tail is; Sharpe/Sortino say whether the
    * drift is worth the noise, and Sortino > Sharpe says the
    * volatility is mostly upside).
    *
    * Determinism: deltas are exact int64 cents (the q_value_at_risk
    * frame); all three moments (Σd, Σd², Σ min(d,0)²) ride
    * decimal(38,0) (DuckDB HUGEINT); mean, sample σ, downside
    * deviation and both ratios are identically-spelled single chains
    * with nullif on zero spread; fewer than 20 deltas → NULL ratios.
    *
    * Scale shape: one lag over [[dailyOrders]], ONE three-moment
    * rollup — everything after is 1-row math. */
  def sharpe(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val deltas = daily
      .withColumn("prev", lag(col("cents"), 1).over(
        Window.orderBy(col("day_num"))))
      .filter(col("prev").isNotNull)
      .select((col("cents") - col("prev")).as("dl"))
    val m = deltas.agg(count(lit(1)).as("n"),
      sum(dec(col("dl"))).cast("decimal(38,0)").as("s1"),
      sum(dec(col("dl")) * dec(col("dl"))).cast("decimal(38,0)").as("s2"),
      sum(when(col("dl") < 0, dec(col("dl")) * dec(col("dl")))
        .otherwise(dec(lit(0)))).cast("decimal(38,0)").as("sneg2"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val std = sqrt((dec(col("n")) * col("s2") - col("s1") * col("s1"))
      .cast("double") / (nD * (nD - lit(1.0))))
    val ddev = sqrt(col("sneg2").cast("double") / nD)
    val ok = col("n") >= 20
    ord(
      m.select(col("n").as("n_deltas"),
        when(ok, r4(mean / 100.0)).as("mean_change_rev"),
        when(ok, r4(std / 100.0)).as("volatility_rev"),
        when(ok, r4(mean / nullif(std, lit(0.0)))).as("sharpe"),
        when(ok, r4(ddev / 100.0)).as("downside_dev_rev"),
        when(ok, r4(mean / nullif(ddev, lit(0.0)))).as("sortino")),
      col("n_deltas"))
  }

  /** q_max_drawdown — worst peak-to-trough decline of the DAILY
    * revenue series: running peak via cumulative max, drawdown =
    * peak − today, reported at its maximum with the trough date, the
    * peak it fell from, and the relative depth — the "how far and how
    * long did we sink" readout that VaR's single-day tail quantile
    * (q_value_at_risk) structurally cannot see, because a drawdown is
    * a RUN of bad days, not one.
    *
    * Determinism: daily cents and the running peak are exact int64;
    * the trough row is picked by the totally-ordered (drawdown DESC,
    * day ASC) rank — first day the maximum depth is reached; the one
    * share is a single r4'd division (peak > 0 always — revenue days
    * are positive); an empty orders table yields zero rows.
    *
    * Scale shape: running max + rank over [[dailyOrders]]. */
  def maxDrawdown(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val w = Window.orderBy(col("day_num"))
    val dd = daily
      .withColumn("n_days", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)))
      .withColumn("peak", max(col("cents")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dd", col("peak") - col("cents"))
    val top = dd.withColumn("rn", row_number().over(
      Window.orderBy(col("dd").desc, col("day_num"))))
      .filter(col("rn") === 1)
    ord(
      top.select(col("n_days"),
        expr("date_add(DATE '1970-01-01', day_num)").as("trough_date"),
        r4(col("peak").cast("double") / 100.0).as("peak_rev"),
        r4(col("cents").cast("double") / 100.0).as("trough_rev"),
        r4(col("dd").cast("double") / 100.0).as("max_drawdown_rev"),
        r4(col("dd").cast("double") /
           nullif(col("peak").cast("double"), lit(0.0))).as("dd_share")),
      col("n_days"))
  }

  /** q_friedman — Friedman's rank test of daily revenue ACROSS market
    * segments with days as blocks: within each complete day (all
    * segments present) the segments are midranked by revenue, rank
    * sums R_j accumulate per segment, and χ²_F = 12·ΣR_j²/(nk(k+1)) −
    * 3n(k+1) with Kendall's W = χ²_F/(n(k−1)) as the effect size. The
    * repeated-measures companion to q_kruskal_wallis: KW treats orders
    * as independent samples, Friedman blocks BY DAY, so day-level
    * shocks (every segment up on a holiday) cancel instead of
    * inflating the between-segment signal.
    *
    * Determinism: daily cells are exact int64 cents; midrank =
    * rank() + (t−1)/2 over the (day) partition — ties hit identical
    * rank() semantics in both engines; every midrank is an exact
    * half-integer and every R_j (≤ nk halves) and R_j² (quarters,
    * far below 2⁵³) is exactly representable, so the double sums are
    * EXACT and order-free — no sorted fold needed anywhere; χ²/W are
    * identically-spelled chains off the same operands.
    *
    * Scale shape: one partial-aggregable (day, segment) rollup off the
    * broadcast customer dim; every window partitions by day (or
    * (day, cents)) over the ≤|days|·k cell frame; the k frame and the
    * final k-row rank-sum frame are trivially small. */
  def friedman(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
              .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("day"),
               col("c_mktsegment").as("segment"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val kf = Tables.customer(s, d)
      .agg(countDistinct(col("c_mktsegment")).as("k"))
    val complete = daily
      .withColumn("n_seg", count(lit(1)).over(Window.partitionBy(col("day"))))
      .crossJoin(broadcast(kf))
      .filter(col("n_seg") === col("k"))
    val mr = rank().over(Window.partitionBy(col("day")).orderBy(col("cents")))
      .cast("double") +
      (count(lit(1)).over(Window.partitionBy(col("day"), col("cents")))
         .cast("double") - lit(1.0)) / lit(2.0)
    val rj = complete
      .withColumn("mr", mr)
      .groupBy(col("segment"))
      .agg(sum(col("mr")).as("r"), count(lit(1)).as("n_j"),
           max(col("k")).as("kk"))
    val a = rj.agg(max(col("n_j")).as("n"), max(col("kk")).as("k"),
                   sum(col("r") * col("r")).as("sum_r2"))
    val nd = col("n").cast("double")
    val kd = col("k").cast("double")
    val chi2 = lit(12.0) * col("sum_r2") /
      nullif(nd * kd * (kd + lit(1.0)), lit(0.0)) -
      lit(3.0) * nd * (kd + lit(1.0))
    ord(
      a.select(col("n").as("n_days"), col("k").as("n_segments"),
               r4(chi2).as("chi2_f"),
               r4(chi2 / nullif(nd * (kd - lit(1.0)), lit(0.0)))
                 .as("kendalls_w")),
      col("n_days"))
  }

  /** q_dormant_customers — churn-risk flag per market segment: among
    * customers with ≥ 3 orders (so a personal inter-order cadence
    * exists), how many have been silent for more than 2× their OWN
    * median inter-order gap, judged at the corpus's last order date.
    * The per-customer version of q_purchase_interval's population
    * histogram: a 40-day silence is churn for a weekly buyer and
    * nothing for a quarterly one — the readout a winback campaign
    * actually targets.
    *
    * Determinism: order days and gaps are exact int64 days on the
    * (day, orderkey)-ordered per-customer chain; the median gap is an
    * exact order statistic of the sorted gap list (odd → middle, even
    * → mean of the two middles — an exact half-integer), never an
    * interpolated engine quantile; the dormancy compare
    * (mx − last) > 2·median resolves on exact halves; the share is
    * ONE r4'd division of exact counts.
    *
    * Scale shape: the lag window partitions by customer; the gap list
    * is bounded by orders-per-customer (≤ dozens), so sort_array is
    * per-key-bounded — never corpus-scale; one segment rollup; the
    * 1-row corpus-max frame broadcasts. */
  def dormantCustomers(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey"),
              expr("unix_timestamp(o_orderdate) DIV 86400").as("day"),
              col("o_orderkey"))
    val mx = o.agg(max(col("day")).as("mx"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = o
      .withColumn("prev", lag(col("day"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), (col("day") - col("prev")).as("gap"))
    val per = gaps.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_gaps"),
           sort_array(collect_list(col("gap"))).as("gs"))
      .filter(col("n_gaps") >= 2L) // >= 3 orders
      .withColumn("med", expr(
        """CASE WHEN n_gaps % 2 = 1
                THEN CAST(element_at(gs, CAST((n_gaps + 1) DIV 2 AS INT))
                          AS DOUBLE)
                ELSE (CAST(element_at(gs, CAST(n_gaps DIV 2 AS INT)) AS DOUBLE)
                      + CAST(element_at(gs, CAST(n_gaps DIV 2 + 1 AS INT))
                             AS DOUBLE)) / 2.0 END"""))
    val last = o.groupBy(col("o_custkey")).agg(max(col("day")).as("last_day"))
    val seg = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    ord(
      per.join(last, "o_custkey")
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .crossJoin(broadcast(mx))
        .select(col("segment"), col("med"),
                when((col("mx") - col("last_day")).cast("double") >
                       lit(2.0) * col("med"), 1L).otherwise(0L).as("dormant"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_eligible"),
             sum(col("dormant")).as("n_dormant"),
             sum(col("med")).as("med_sum"))
        .select(col("segment"), col("n_eligible"), col("n_dormant"),
                r4(col("n_dormant").cast("double") /
                   col("n_eligible").cast("double")).as("dormant_share"),
                r4(col("med_sum") / col("n_eligible").cast("double"))
                  .as("avg_median_gap")),
      col("segment"))
  }

  /** q_tukey_hsd — Tukey-style post-hoc pairwise contrasts after
    * [[anova]]: for every segment pair, the mean difference and the
    * studentized statistic q = (x̄_a − x̄_b)/√((MSW/2)(1/n_a + 1/n_b))
    * off the SAME pooled within-group variance ANOVA uses. ANOVA's F
    * says "the segments differ SOMEWHERE"; this says WHERE — the
    * pairwise follow-up every omnibus test needs before anyone acts
    * on it.
    *
    * Determinism: per-segment sufficient stats exact int64 dollars
    * (the q_anova frame); the ONE cross-group double sum (Σ sx²/n)
    * folds in segment order (the q_anova rule); each pair's mean/
    * diff/q is an identically-spelled chain off exact operands,
    * nullif on zero within-variance.
    *
    * Scale shape: one partial-aggregable fact rollup to k rows; the
    * pair join is k×k over the k-row aggregate (broadcast, ≤|segments|²
    * rows); the 1-row MSW frame broadcasts. */
  def tukeyHsd(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
              round(col("o_totalprice")).cast("long").as("x"))
    val g = o.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
           sum(col("x") * col("x")).as("sxx"))
    val t = g.agg(
      count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("sxx")).as("tss"),
      expr("aggregate(sort_array(collect_list(named_struct(" +
           "'seg', segment, 'p', cast(sx as double) * sx / n))), " +
           "cast(0.0 as double), (acc, x) -> acc + x.p)").as("sum_gb"))
    val msw = (col("tss").cast("double") - col("sum_gb")) /
      (col("nn") - col("k")).cast("double")
    val a = g.select(col("segment").as("seg_a"), col("n").as("na"),
                     col("sx").as("sxa"))
    val b = g.select(col("segment").as("seg_b"), col("n").as("nb"),
                     col("sx").as("sxb"))
    val meanA = col("sxa").cast("double") / col("na")
    val meanB = col("sxb").cast("double") / col("nb")
    ord(
      a.join(broadcast(b), col("seg_a") < col("seg_b"))
        .crossJoin(broadcast(t))
        .select(col("seg_a"), col("seg_b"), col("na").as("n_a"),
          col("nb").as("n_b"),
          r4(meanA).as("mean_a"), r4(meanB).as("mean_b"),
          r4(meanA - meanB).as("diff"),
          r4((meanA - meanB) /
             nullif(sqrt(msw * lit(0.5) *
                         (lit(1.0) / col("na") + lit(1.0) / col("nb"))),
                    lit(0.0))).as("q_stat")),
      col("seg_a"), col("seg_b"))
  }

  /** q_ljung_box — Ljung–Box portmanteau whiteness test over the first
    * 7 autocorrelations of the daily revenue series:
    * Q = n(n+2)·Σ_{k≤7} ρ_k²/(n−k). One number answering "is there ANY
    * serial structure" — the admission gate for the whole indicator
    * family (q_autocorr reads single lags; a forecast residual check
    * needs the joint test).
    *
    * Determinism: daily cents exact int64; each ρ_k comes from the
    * exact decimal(38,0) identity n²·num = n²·Σx_t·x_{t−k} −
    * n·S·(Σhead + Σtail) + (n−k)·S² over n²·den = n²·Σx² − n·S²
    * (cents² ≈ 8·10¹⁹ overflows int64 — DuckDB mirrors with HUGEINT),
    * so each ρ is ONE double division of exact operands; the 7-term
    * Σρ²/(n−k) folds in LAG order (q_anova rule); n ≤ 14 days NULLs.
    *
    * Scale shape: everything after [[dailyOrders]] lives on its
    * frame: the lag join is |days|×7 against a 7-row broadcast spine,
    * then ONE ≤7-row aggregate and a 1-row join with the series
    * moments. */
  def ljungBox(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
    val m = daily.agg(count(lit(1)).as("n"),
                      sum(dec(col("cents"))).cast("decimal(38,0)").as("s"),
                      sum(dec(col("cents")) * dec(col("cents")))
                        .cast("decimal(38,0)").as("sxx"))
    val lags = s.range(1, 8).select(col("id").as("lag_k"))
    val cross = daily.as("a")
      .crossJoin(broadcast(lags))
      .join(daily.as("b"), col("a.day_num") === col("b.day_num") + col("lag_k"))
      .groupBy(col("lag_k"))
      .agg(sum(dec(col("a.cents")) * dec(col("b.cents")))
             .cast("decimal(38,0)").as("sxy"),
           sum(dec(col("a.cents")) + dec(col("b.cents")))
             .cast("decimal(38,0)").as("sht"))
    val nD = col("n").cast("decimal(38,0)")
    val num = (nD * nD * col("sxy") - nD * col("s") * col("sht") +
               (nD - col("lag_k").cast("decimal(38,0)")) * col("s") * col("s"))
      .cast("decimal(38,0)")
    val den = (nD * nD * col("sxx") - nD * col("s") * col("s"))
      .cast("decimal(38,0)")
    val rho = cross.crossJoin(broadcast(m))
      .select(col("lag_k"), col("n"),
              (num.cast("double") / nullif(den.cast("double"), lit(0.0)))
                .as("rho"))
    ord(
      rho.groupBy(col("n"))
        .agg(expr("aggregate(sort_array(collect_list(named_struct(" +
               "'k', lag_k, 'p', rho * rho / nullif(n - lag_k, 0)))), " +
               "cast(0.0 as double), (acc, x) -> acc + x.p)").as("sum_t"),
             max(when(col("lag_k") === 1L, col("rho"))).as("rho_1"))
        .select(col("n").as("n_days"), lit(7L).as("m_lags"),
                r4(col("rho_1")).as("rho_1"),
                r4(when(col("n") > 14L,
                        col("n").cast("double") *
                        (col("n").cast("double") + lit(2.0)) * col("sum_t"))
                     .otherwise(lit(null).cast("double"))).as("q_stat")),
      col("n_days"))
  }

  /** q_quantile_te — quantile treatment effects of the md5-parity
    * customer arm split on order value: the 25/50/75th order-value
    * percentiles per arm and their differences. q_ab_test and
    * q_cohens_d compare MEANS; a treatment that moves the tail but
    * not the middle (or vice versa) only shows up here — the
    * distributional readout experimentation reports ship beside the
    * mean lift.
    *
    * Determinism: arms from the md5-parity rule (q_ab_test idiom);
    * each percentile is a MANUAL order-statistic bracket
    * rn = ⌈q·n/100⌉ on the uniquely-ordered (cents, orderkey) rank
    * within the arm (the q_value_at_risk rule — never engine quantile
    * interpolation); diffs are exact-cent differences divided once,
    * r4'd.
    *
    * Scale shape: the per-arm rank rides [[graft.functions.Dist.prefix]]
    * (part = variant) — |variant| = 2 would otherwise funnel EVERY
    * order through two tasks (a per-arm global sort disguised as a
    * partitioned window: partitioned, yet still data-proportional) —
    * then ONE aggregate; no spine join —
    * the three brackets are conditional aggregates over the same
    * ranked frame. Bracket indices compare in int64 (rn·n fit long at
    * any SF; an INT cast would wrap past ~8.6B orders per arm). */
  def quantileTe(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      when(expr("conv(substring(md5(cast(o_custkey as string)), 1, 8), " +
                "16, 10) % 2") === 0, "A").otherwise("B").as("variant"))
    val ranked = graft.functions.Dist.prefix(o, Seq("variant"),
      Seq(col("cents"), col("o_orderkey")),
      rowNum = Some("rn"), groupN = Some("n"))
    def bracket(q: Int): Column =
      max(when(col("rn") === expr(s"(n * $q + 99) DIV 100"),
               col("cents")))
    val arms = ranked.groupBy(col("variant"))
      .agg(max(col("n")).as("n"), bracket(25).as("q25"),
           bracket(50).as("q50"), bracket(75).as("q75"))
    val f = arms.agg(
      max(when(col("variant") === "A", col("n"))).as("n_a"),
      max(when(col("variant") === "B", col("n"))).as("n_b"),
      max(when(col("variant") === "A", col("q25"))).as("a25"),
      max(when(col("variant") === "B", col("q25"))).as("b25"),
      max(when(col("variant") === "A", col("q50"))).as("a50"),
      max(when(col("variant") === "B", col("q50"))).as("b50"),
      max(when(col("variant") === "A", col("q75"))).as("a75"),
      max(when(col("variant") === "B", col("q75"))).as("b75"))
    def d2(c: Column): Column = r4(c.cast("double") / 100.0)
    ord(
      f.select(col("n_a"), col("n_b"),
        d2(col("a25")).as("q25_a"), d2(col("b25")).as("q25_b"),
        d2(col("a25") - col("b25")).as("q25_diff"),
        d2(col("a50")).as("q50_a"), d2(col("b50")).as("q50_b"),
        d2(col("a50") - col("b50")).as("q50_diff"),
        d2(col("a75")).as("q75_a"), d2(col("b75")).as("q75_b"),
        d2(col("a75") - col("b75")).as("q75_diff")),
      col("n_a"))
  }

  /** q_ab_subgroups — treatment-effect HETEROGENEITY: the md5-parity
    * arm split's order-value lift computed PER market segment, each
    * with its own Welch t — the subgroup analysis every experiment
    * review runs after the pooled readout (a null overall effect can
    * hide a positive segment and a negative one; acting on the pool
    * alone is the classic Simpson trap). q_ttest_welch is the pooled
    * row; this is its per-segment expansion.
    *
    * Determinism: per-(segment, arm) sufficient stats exact int64
    * dollars (the q_anova magnitude rule); every mean/variance/t/df
    * chain is spelled EXACTLY like q_ttest_welch's (sx::double·sx/n),
    * try_divide (≙ DuckDB ÷0 → NULL) on degenerate arms.
    *
    * Scale shape: ONE partial-aggregable rollup (six conditional sums
    * per segment in one pass) off the broadcast customer dim; no
    * window, no second shuffle; k result rows. */
  def abSubgroups(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
              .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
              round(col("o_totalprice")).cast("long").as("x"),
              when(expr("conv(substring(md5(cast(o_custkey as string)), " +
                        "1, 8), 16, 10) % 2") === 0, 1).otherwise(0)
                .as("arm"))
    val g = o.groupBy(col("segment")).agg(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sxa"),
      sum(when(col("arm") === 1, col("x") * col("x")).otherwise(0L))
        .as("sxxa"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sxb"),
      sum(when(col("arm") === 0, col("x") * col("x")).otherwise(0L))
        .as("sxxb"))
    // every division is try_divide: unlike the pooled q_ttest_welch, a
    // SUBGROUP can genuinely have an empty arm, and ANSI mode must
    // yield NULL (like the oracle's ÷0), not an exception
    val st = g
      .withColumn("ma", try_divide(col("sxa").cast("double"), col("na")))
      .withColumn("mb", try_divide(col("sxb").cast("double"), col("nb")))
      .withColumn("va",
        try_divide(
          col("sxxa") -
            try_divide(col("sxa").cast("double") * col("sxa"), col("na")),
          col("na") - 1L))
      .withColumn("vb",
        try_divide(
          col("sxxb") -
            try_divide(col("sxb").cast("double") * col("sxb"), col("nb")),
          col("nb") - 1L))
      .withColumn("se2", try_divide(col("va"), col("na")) +
                         try_divide(col("vb"), col("nb")))
    ord(
      st.select(col("segment"),
        col("na").as("n_a"), col("nb").as("n_b"),
        r4(col("ma")).as("mean_a"), r4(col("mb")).as("mean_b"),
        r4(col("ma") - col("mb")).as("lift"),
        r4(try_divide(col("ma") - col("mb"), sqrt(col("se2"))))
          .as("t_stat")),
      col("segment"))
  }

  /** q_gumbel_maxima — extreme-value fit of MONTHLY MAXIMA of daily
    * revenue: Gumbel location/scale by method of moments
    * (β = s·√6/π, μ = x̄ − γβ) and the 12-month return level
    * μ − β·ln(−ln(1 − 1/12)) — "what daily peak should one year
    * bring", the block-maxima law q_tail_index's value-tail exponent
    * and q_value_at_risk's change-quantile both structurally miss
    * (extremes of MAXIMA follow their own distribution).
    *
    * Determinism: daily cents and monthly maxima exact int64; the two
    * moments accumulate in decimal(38,0)/HUGEINT; mean/sd/β/μ/return
    * level are identically-spelled chains with √6, π and γ as the
    * same decimal literals on both engines; < 12 blocks NULLs the
    * fit.
    *
    * Scale shape: everything after the daily rollup is
    * calendar-bounded (≤|months| maxima, one 1-row moment frame). */
  def gumbelMaxima(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
    val maxima = daily
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(max(col("c")).as("m"))
    val mo = maxima.agg(count(lit(1)).as("n"),
                        sum(dec(col("m"))).cast("decimal(38,0)").as("s1"),
                        sum(dec(col("m")) * dec(col("m")))
                          .cast("decimal(38,0)").as("s2"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val sd = sqrt((col("s2").cast("double") - mean * mean * nD) /
                  nullif(nD - lit(1.0), lit(0.0)))
    val beta = sd * lit(2.449489742783178) / lit(3.141592653589793)
    val mu = mean - lit(0.5772156649015329) * beta
    val rl = mu - beta * log(-log(lit(1.0) - lit(1.0) / lit(12.0)))
    val gate = (c: Column) => when(col("n") >= 12L, c)
    ord(
      mo.select(col("n").as("n_blocks"),
        r4(mean / 100.0).as("mean_max"),
        gate(r4(sd / 100.0)).as("sd_max"),
        gate(r4(beta / 100.0)).as("gumbel_beta"),
        gate(r4(mu / 100.0)).as("gumbel_mu"),
        gate(r4(rl / 100.0)).as("return_level_12mo")),
      col("n_blocks"))
  }

  /** q_seasonality_strength — how much of the DAILY revenue variance
    * the weekly rhythm explains: one-way η² of day-of-week on daily
    * revenue (the q_anova machinery on the calendar frame). The
    * seasonality HEATMAP (q_seasonality) shows the shape; this is the
    * single number that says whether deseasonalizing matters (η² near
    * 0 → weekday adjustment is noise; near 1 → every weekday model
    * must be separate).
    *
    * Determinism: dow from pure integer epoch arithmetic (the
    * q_seasonality +3 rule — no engine dow convention); daily cents
    * exact int64, group moments decimal(38,0)/HUGEINT; the one
    * cross-group double sum (Σ S_g²/n_g) folds in DOW order (q_anova
    * rule); η²/F identically-spelled chains, nullif on zero variance.
    *
    * Scale shape: [[dailyOrders]], a ≤7-row group rollup, a 1-row
    * total. */
  def seasonalityStrength(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrders(s, d)
      .select(((col("day_num") + 3L) % 7L + 1L).as("dow"),
              col("cents").as("c"))
    val g = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("c"))).cast("decimal(38,0)").as("sg"))
    val tot = daily.agg(count(lit(1)).as("nn"),
                        sum(dec(col("c"))).cast("decimal(38,0)").as("ts"),
                        sum(dec(col("c")) * dec(col("c")))
                          .cast("decimal(38,0)").as("tss"))
    val t = g.agg(count(lit(1)).as("k"),
      expr("aggregate(sort_array(collect_list(named_struct(" +
           "'d', dow, 'p', cast(sg as double) * cast(sg as double) / n))), " +
           "cast(0.0 as double), (acc, x) -> acc + x.p)").as("sum_gb"))
      .crossJoin(broadcast(tot))
    val cf = col("ts").cast("double") * col("ts").cast("double") /
      col("nn").cast("double")
    val ssb = col("sum_gb") - cf
    val sst = col("tss").cast("double") - cf
    ord(
      t.select(col("nn").as("n_days"), col("k").as("n_dows"),
        r4(ssb / nullif(sst, lit(0.0))).as("eta2"),
        r4((ssb / (col("k") - lit(1L)).cast("double")) /
           nullif((sst - ssb) / (col("nn") - col("k")).cast("double"),
                  lit(0.0))).as("f_stat")),
      col("n_days"))
  }

  /** q_peak_load_factor — monthly capacity headroom: per month the
    * peak revenue day, the mean day, and the load factor mean/peak —
    * the utility-engineering metric (a load factor near 1 = flat
    * demand, sizing to the mean suffices; near 0 = spiky, capacity
    * must chase the peak). q_daily_p95 trends the tail across days;
    * this prices the peak-vs-mean gap month by month.
    *
    * Determinism: daily cents exact int64; the peak day is the
    * totally-ordered (cents DESC, day) rank-1 row per month; the load
    * factor is ONE r4'd division of exact cents (S vs n·peak — the
    * mean never materializes as a rounded intermediate).
    *
    * Scale shape: everything after the daily rollup is
    * calendar-bounded; the rank window partitions BY MONTH. */
  def peakLoadFactor(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .withColumn("month", date_trunc("month", col("day")).cast("date"))
    val ranked = daily.withColumn("rk", row_number().over(
      Window.partitionBy(col("month"))
        .orderBy(col("c").desc, col("day"))))
    ord(
      ranked.groupBy(col("month"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s"),
             max(when(col("rk") === 1, col("c"))).as("peak_c"),
             max(when(col("rk") === 1, col("day"))).as("peak_day"))
        .select(col("month"), col("n_days"), col("peak_day"),
                r4(col("peak_c").cast("double") / 100.0).as("peak_revenue"),
                r4(col("s").cast("double") /
                   col("n_days").cast("double") / 100.0).as("mean_revenue"),
                r4(col("s").cast("double") /
                   nullif(col("n_days").cast("double") *
                          col("peak_c").cast("double"), lit(0.0)))
                  .as("load_factor")),
      col("month"))
  }

  /** q_interarrival_cv — order-cadence regularity per market segment:
    * the coefficient of variation of pooled inter-order day gaps
    * (per-customer chains, ≥ 2 orders). CV ≈ 1 is the memoryless
    * Poisson baseline; CV < 1 = regular replenishment cadence;
    * CV > 1 = bursty, campaign-driven ordering — the
    * segment-level regularity verdict q_dormant_customers'
    * per-customer flags and q_burstiness's event-side Fano factor
    * both sit beside.
    *
    * Determinism: gaps exact int64 days on the (day, orderkey)-ordered
    * per-customer chain; the three pooled moments are exact int64
    * (gap² ≤ ~6·10⁶ per row — documented headroom); mean/sd/cv
    * identically-spelled chains, nullif on degenerate pools.
    *
    * Scale shape: the lag window partitions by customer; ONE
    * partial-aggregable segment rollup off the broadcast customer
    * dim; k result rows. */
  def interarrivalCv(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey"),
              expr("unix_timestamp(o_orderdate) DIV 86400").as("day"),
              col("o_orderkey"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = o
      .withColumn("prev", lag(col("day"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), (col("day") - col("prev")).as("g"))
      .join(broadcast(Tables.customer(s, d)
              .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
            col("o_custkey") === col("c_custkey"))
    val m = gaps.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
           sum(col("g") * col("g")).as("sgg"))
    val nD = col("n").cast("double")
    val mean = col("sg").cast("double") / nD
    val sd = sqrt((col("sgg").cast("double") - mean * mean * nD) /
                  nullif(nD - lit(1.0), lit(0.0)))
    ord(
      m.select(col("segment"), col("n").as("n_gaps"),
               r4(mean).as("mean_gap_days"),
               r4(sd).as("sd_gap_days"),
               r4(sd / nullif(mean, lit(0.0))).as("cv")),
      col("segment"))
  }

  /** q_daily_p95 — the daily TAIL trend: per day the median and 95th-
    * percentile order value alongside the count — the ops-review
    * series ("is the big-ticket tail growing?") that q_moving_avg's
    * mean and q_percentile's static per-segment quantiles both miss;
    * a mean can be flat while the p95 doubles.
    *
    * Determinism: both quantiles are MANUAL order-statistic brackets
    * rn = ⌈qn/100⌉ on the uniquely-ordered per-day (cents, orderkey)
    * rank (the q_value_at_risk rule — never engine interpolation);
    * exact cents divided once, r4'd.
    *
    * Scale shape: the ranking window partitions BY DAY (the natural
    * parallel unit — no global sort); one per-day aggregate;
    * |days| result rows. */
  def dailyP95(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      date_trunc("day", col("o_orderdate")).cast("date").as("day"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderkey"))
    // day-grouped prefix tier: ranges cut on (day, cents, key), so one
    // HEAVY day still spreads across range partitions instead of
    // putting its whole member list through a single day-partition sort
    val ranked = graft.functions.Dist.prefix(o, Seq("day"),
      Seq(col("cents"), col("o_orderkey")),
      rowNum = Some("rn"), groupN = Some("n"))
    def bracket(q: Int): Column =
      max(when(col("rn") === expr(s"CAST((n * $q + 99) DIV 100 AS INT)"),
               col("cents")))
    ord(
      ranked.groupBy(col("day"))
        .agg(max(col("n")).as("n_orders"), bracket(50).as("p50_c"),
             bracket(95).as("p95_c"))
        .select(col("day"), col("n_orders"),
                r4(col("p50_c").cast("double") / 100.0).as("p50"),
                r4(col("p95_c").cast("double") / 100.0).as("p95")),
      col("day"))
  }
}
