package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CurationOps, JoinOps, LlmOps, ReportShapeOps, TimeSeriesOps, WindowOps}

/** Independent-recomputation checks for the r11 statistics/eval
  * operators: each query's answer is recomputed in plain Scala from the
  * same driver data (a SECOND independent implementation, beyond the
  * DuckDB oracle the driver runs), plus planted-fixture cases for the
  * fuzzy match and the centered LSH. */
class RobustStatsSpec extends AnyFunSuite {
  import TestBase._

  test("mann_whitney U and z match a direct rank computation") {
    val out = TimeSeriesOps.mannWhitney(spark, sf0001).collect().head
    // independent: collect per-user spend + arm, rank in Scala
    val users = Tables.events(spark, sf0001)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .withColumn("arm",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0,
             1).otherwise(0))
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    val na = users.count(_._2 == 1).toLong
    val nb = users.count(_._2 == 0).toLong
    val sorted = users.sortBy(_._1)
    // average ranks with ties
    val byVal = sorted.groupBy(_._1).toSeq.sortBy(_._1)
    var cum = 0L
    var r2a = 0L // 2 × rank-sum of arm A
    var ties = 0L
    for ((_, grp) <- byVal) {
      val t = grp.length.toLong
      val rank2 = 2L * cum + t + 1L // 2 × average rank
      r2a += grp.count(_._2 == 1) * rank2
      ties += t * t * t - t
      cum += t
    }
    val u2 = r2a - na * (na + 1)
    val n = na + nb
    val sigma2 = na.toDouble * nb / 12.0 *
      ((n + 1).toDouble - ties.toDouble / (n * (n - 1)))
    val z = (u2 - na * nb).toDouble / (2.0 * math.sqrt(sigma2))
    assert(out.getAs[Long]("n_a") == na && out.getAs[Long]("n_b") == nb)
    assert(math.abs(out.getAs[Double]("u_a") - u2 / 2.0) < 1e-6)
    assert(math.abs(out.getAs[Double]("z") - z) < 1e-3)
  }

  test("psi bins sum to the population and the total matches a direct computation") {
    val rows = TimeSeriesOps.psi(spark, sf0001).collect()
    assert(rows.length == 10)
    val total = Tables.events(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_ref")).sum +
           rows.map(_.getAs[Long]("n_cur")).sum == total)
    // every row carries the same PSI total; recompute from the
    // UNROUNDED proportions implied by the counts
    val tr = rows.map(_.getAs[Long]("n_ref")).sum.toDouble
    val tc = rows.map(_.getAs[Long]("n_cur")).sum.toDouble
    val psi = rows.map { r =>
      val p = math.max(r.getAs[Long]("n_ref") / tr, 0.0001)
      val q = math.max(r.getAs[Long]("n_cur") / tc, 0.0001)
      (q - p) * math.log(q / p)
    }.sum
    rows.foreach(r => assert(math.abs(r.getAs[Double]("psi") - psi) < 1e-3))
  }

  test("rolling_median equals a direct 7-row window median on every day") {
    val rows = TimeSeriesOps.rollingMedian(spark, sf0001).collect()
      .map(r => (r.getAs[java.sql.Date]("day"), r.getAs[Double]("revenue"),
                 r.getAs[Double]("med7")))
    assert(rows.nonEmpty)
    val cents = rows.map(r => math.round(r._2 * 100))
    for (i <- rows.indices) {
      val win = cents.slice(math.max(0, i - 6), i + 1).sorted
      val med =
        if (win.length % 2 == 1) win(win.length / 2).toDouble
        else (win(win.length / 2 - 1) + win(win.length / 2)) / 2.0
      val want = BigDecimal(med / 100.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rows(i)._3 - want) < 1e-9,
        s"day ${rows(i)._1}: med7=${rows(i)._3} want $want")
    }
  }

  test("decile_lift: captures sum to 1, counts sum to customers, lift averages to 1") {
    val rows = ReportShapeOps.decileLift(spark, sf0001).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("n_cust")).sum ==
           Tables.customer(spark, sf0001).count())
    assert(math.abs(rows.map(_.getAs[Double]("capture")).sum - 1.0) < 1e-2)
    assert(math.abs(rows.last.getAs[Double]("cum_capture") - 1.0) < 1e-3)
    // Σ (n_d/N)·lift_d = 1 by construction
    val n = rows.map(_.getAs[Long]("n_cust")).sum.toDouble
    val wavg = rows.map(r => r.getAs[Long]("n_cust") * r.getAs[Double]("lift")).sum / n
    assert(math.abs(wavg - 1.0) < 1e-2)
  }

  test("outliers_robust: fences bracket the quartiles and counts match a recount") {
    val rows = ReportShapeOps.outliersRobust(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val prices = Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val flag = r.getAs[String]("flag")
      val lo = r.getAs[Double]("lo_fence")
      val hi = r.getAs[Double]("hi_fence")
      assert(lo < hi)
      val ps = prices(flag).map(_.getDouble(1))
      val nOut = ps.count(p => p < lo || p > hi).toLong
      assert(r.getAs[Long]("n_out") == nOut, s"$flag: ${r.getAs[Long]("n_out")} vs $nOut")
      assert(r.getAs[Long]("n") == ps.length.toLong)
    }
  }

  test("auc matches direct pairwise comparison counting") {
    val out = ReportShapeOps.auc(spark, sf0001).collect().head
    // independent: per-user (score, pos) collected, AUC by brute pairs
    val users = Tables.events(spark, sf0001)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"),
           min(unix_timestamp(col("ts"))).as("fs"),
           min(when(col("event_type") === "purchase", unix_timestamp(col("ts"))))
             .as("fp"))
      .collect().map(r => (r.getLong(1),
        !r.isNullAt(3) && r.getLong(3) - r.getLong(2) <= 86400))
    val pos = users.filter(_._2).map(_._1)
    val neg = users.filterNot(_._2).map(_._1)
    assert(pos.nonEmpty && neg.nonEmpty, "need both outcome classes")
    var num = 0.0
    for (p <- pos; n <- neg)
      num += (if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
    val auc = num / (pos.length.toLong * neg.length)
    assert(out.getAs[Long]("n_pos") == pos.length.toLong)
    assert(out.getAs[Long]("n_neg") == neg.length.toLong)
    assert(math.abs(out.getAs[Double]("auc") - auc) < 1e-3,
      s"auc ${out.getAs[Double]("auc")} vs brute $auc")
  }

  test("survival curve matches a direct Kaplan-Meier computation") {
    val rows = TimeSeriesOps.survival(spark, sf0001).collect()
      .map(r => (r.getAs[Int]("t"), r.getAs[Long]("n_risk"),
                 r.getAs[Long]("n_churn"), r.getAs[Long]("n_censored"),
                 r.getAs[Double]("survival")))
    assert(rows.nonEmpty)
    // independent per-user lifetimes
    val lt = Tables.events(spark, sf0001)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"), max(to_date(col("ts"))).as("ld"))
      .collect().map(r => (r.getDate(1), r.getDate(2)))
    val maxd = lt.map(_._2.toLocalDate).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val durs = lt.map { case (fd, ld) =>
      val t = (ld.toLocalDate.toEpochDay - fd.toLocalDate.toEpochDay).toInt
      val churn = (maxd.toEpochDay - ld.toLocalDate.toEpochDay) > 7
      (t, churn)
    }
    var atRisk = durs.length.toLong
    var s = 1.0
    val wantRows = durs.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, grp) =>
      val d = grp.count(_._2).toLong
      val c = grp.size - d
      val row = (t, atRisk, d, c)
      s *= (1.0 - d.toDouble / atRisk)
      val sv = s
      atRisk -= grp.size
      (row, sv)
    }
    assert(rows.length == wantRows.length)
    rows.zip(wantRows).foreach { case ((t, nr, d, c, sv), ((wt, wnr, wd, wc), wsv)) =>
      assert(t == wt && nr == wnr && d == wd && c == wc,
        s"t=$t counts ($nr,$d,$c) vs ($wnr,$wd,$wc)")
      assert(math.abs(sv - wsv) < 1e-3, s"t=$t survival $sv vs $wsv")
    }
    // survival is non-increasing
    assert(rows.map(_._5).sliding(2).forall(w => w.length < 2 || w(0) >= w(1) - 1e-9))
  }

  test("chisq: margins reconstruct the population and contribs sum to chi2") {
    val rows = TimeSeriesOps.chisq(spark, sf0001).collect()
    val totalEvents = Tables.events(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n")).sum == totalEvents)
    val chi2 = rows.head.getAs[Double]("chi2")
    rows.foreach(r => assert(r.getAs[Double]("chi2") == chi2))
    assert(math.abs(rows.map(_.getAs[Double]("contrib")).sum - chi2) < 1e-2)
    // expected counts also reconstruct the population
    assert(math.abs(rows.map(_.getAs[Double]("expected")).sum - totalEvents) < 1e-2)
    assert(rows.head.getAs[Long]("dof") ==
      (rows.map(_.getAs[Int]("wd")).distinct.length - 1).toLong *
      (rows.map(_.getAs[String]("event_type")).distinct.length - 1))
  }

  test("mix_kl: kl non-negative, tv in [0,1], both share columns sum to 1") {
    val rows = CurationOps.mixKl(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val kl = rows.head.getAs[Double]("kl")
    val tv = rows.head.getAs[Double]("tv_dist")
    assert(kl >= -1e-9, s"KL negative: $kl")
    assert(tv >= 0.0 && tv <= 1.0)
    assert(math.abs(rows.map(_.getAs[Double]("natural_share")).sum - 1.0) < 1e-2)
    assert(math.abs(rows.map(_.getAs[Double]("target_share")).sum - 1.0) < 1e-2)
    // temperature flattening moves mass toward uniform: target entropy
    // >= natural entropy
    def ent(ps: Seq[Double]) = -ps.filter(_ > 0).map(p => p * math.log(p)).sum
    assert(ent(rows.map(_.getAs[Double]("target_share")).toSeq) >=
           ent(rows.map(_.getAs[Double]("natural_share")).toSeq) - 1e-9)
  }

  test("dedup_report counts are consistent with the cluster store") {
    val rows = CurationOps.dedupReport(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf0001)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_docs") == docs(src))
      assert(r.getAs[Long]("n_dups") ==
             r.getAs[Long]("n_docs") - r.getAs[Long]("n_clusters"))
      assert(r.getAs[Long]("n_clusters") <= r.getAs[Long]("n_docs"))
    }
  }

  test("fuzzy_join finds planted near-identical names inside the (nation, segment) block") {
    val dir = tmpDir("fuzzy")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "Customer#000000001", 7, 10.0, "BUILDING"),
      Row(2L, "Customer#000000002", 7, 11.0, "BUILDING"),   // dist 1 to #1
      Row(3L, "Customer#000000001", 9, 12.0, "BUILDING"),   // other nation: blocked
      Row(4L, "Customer#000000011", 7, 13.0, "AUTOMOBILE"), // dist 1 to #1 but other segment: blocked
      Row(5L, "Customer#000000991", 7, 14.0, "BUILDING")))  // dist 2 to #1; dist 3 to #2
    val out = JoinOps.fuzzyJoin(spark, dir).collect()
    assert(out.length == 1 && out.head.getAs[Int]("nationkey") == 7)
    // pairs inside (7, BUILDING): (1,2) d1, (1,5) d2 — (2,5) is d3;
    // the nation-9 twin and the cross-segment near-name never join
    assert(out.head.getAs[Long]("n_pairs") == 2L)
    assert(out.head.getAs[Long]("n_close") == 1L)
    assert(out.head.getAs[Int]("min_dist") == 1)
  }

  test("dedup_embcos_centered recovers planted twins on an all-positive biased corpus") {
    val dir = tmpDir("embcen")
    val dim = 64
    val rows = (0 until 20).map { id =>
      val base = id / 2
      val v = Array.tabulate(dim) { j =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"cen:$base:$j")
        (0.2 + (h & 0xffff).toDouble / 0xffff).toFloat // strictly positive
      }
      if (id % 2 == 1) v(7) = v(7) + 0.01f
      Row(id.toLong, v.toSeq, 0)
    }
    writeTable(dir, "embeddings", Schemas.embeddings, rows)
    val out = LlmOps.dedupEmbcosCentered(spark, dir).collect()
    val planted = (0 until 10).map(k => (2L * k, 2L * k + 1)).toSet
    val top10 = out.take(10).map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"))).toSet
    assert(top10 == planted,
      s"centered LSH missed planted twins: missing=${planted -- top10} extra=${top10 -- planted}")
  }

  test("mann_kendall S/var/z match a direct pairwise computation") {
    val out = TimeSeriesOps.mannKendall(spark, sf0001).collect().head
    val daily = Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).sortBy(_._1)
    val n = daily.length.toLong
    var s = 0L
    for (i <- daily.indices; j <- (i + 1) until daily.length)
      s += java.lang.Long.signum(daily(j)._2 - daily(i)._2)
    val ties = daily.groupBy(_._2).values.map(_.length.toLong)
      .filter(_ > 1).map(t => t * (t - 1) * (2 * t + 5)).sum
    val var18 = n * (n - 1) * (2 * n + 5) - ties
    val z =
      if (var18 == 0) 0.0
      else if (s > 0) (s - 1) / math.sqrt(var18 / 18.0)
      else if (s < 0) (s + 1) / math.sqrt(var18 / 18.0)
      else 0.0
    assert(out.getAs[Long]("n_days") == n)
    assert(out.getAs[Long]("s") == s)
    assert(math.abs(out.getAs[Double]("var_s") - var18 / 18.0) < 1e-3)
    assert(math.abs(out.getAs[Double]("z") - z) < 1e-3)
    assert(out.getAs[String]("trend") ==
      (if (s > 0) "increasing" else if (s < 0) "decreasing" else "flat"))
  }

  test("ttest_welch matches a direct two-sample computation; arms partition users") {
    val out = TimeSeriesOps.ttestWelch(spark, sf0001).collect().head
    val users = Tables.events(spark, sf0001)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .withColumn("arm",
        when(expr("conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) % 2") === 0,
             1).otherwise(0))
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    val a = users.filter(_._2 == 1).map(_._1.toDouble)
    val b = users.filter(_._2 == 0).map(_._1.toDouble)
    def meanVar(x: Array[Double]): (Double, Double) = {
      val m = x.sum / x.length
      (m, x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
    }
    val (ma, va) = meanVar(a); val (mb, vb) = meanVar(b)
    val se2 = va / a.length + vb / b.length
    val t = (ma - mb) / math.sqrt(se2)
    val df = se2 * se2 /
      ((va / a.length) * (va / a.length) / (a.length - 1) +
       (vb / b.length) * (vb / b.length) / (b.length - 1))
    assert(out.getAs[Long]("n_a") == a.length.toLong)
    assert(out.getAs[Long]("n_b") == b.length.toLong)
    assert(math.abs(out.getAs[Double]("mean_a") - ma / 100.0) < 1e-3)
    assert(math.abs(out.getAs[Double]("t_stat") - t) < 1e-3)
    assert(math.abs(out.getAs[Double]("df") - df) < 1e-2)
    // same md5 gate as q_ab_test: Welch's arms must partition the users
    assert(out.getAs[Long]("n_a") + out.getAs[Long]("n_b") == users.length.toLong)
  }

  test("cramers_v matches chi2 recomputed from the contingency cells; V in [0,1]") {
    val out = TimeSeriesOps.cramersV(spark, sf0001).collect().head
    val cells = Tables.events(spark, sf0001)
      .groupBy(expr("weekday(ts)").as("wd"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2)))
    val rowT = cells.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2).sum }
    val colT = cells.groupBy(_._1._2).map { case (k, v) => k -> v.map(_._2).sum }
    val tot = cells.map(_._2).sum.toDouble
    val chi2 = cells.map { case ((wd, et), n) =>
      val e = rowT(wd) * colT(et) / tot
      (n - e) * (n - e) / e
    }.sum
    val minDim = math.min(rowT.size - 1, colT.size - 1)
    val v = math.sqrt(chi2 / (tot * minDim))
    assert(math.abs(out.getAs[Double]("chi2") - chi2) < 1e-3)
    assert(out.getAs[Long]("dof") == (rowT.size - 1).toLong * (colT.size - 1))
    assert(out.getAs[Long]("n") == tot.toLong)
    assert(math.abs(out.getAs[Double]("cramers_v") - v) < 1e-3)
    assert(out.getAs[Double]("cramers_v") >= 0.0 &&
           out.getAs[Double]("cramers_v") <= 1.0)
  }

  test("regression recovers an exact planted line with r2 = 1") {
    val dir = tmpDir("ols")
    // y = 200 + 300·day cents, exactly linear over 5 days → slope 3.0
    // currency units/day, intercept 2.0, r2 = 1; a second flat type.
    val rows = (0 until 5).flatMap { day =>
      Seq(eventRow(2L * day, day * 86400L, 1L, "lin", 2.0 + 3.0 * day),
          eventRow(2L * day + 1, day * 86400L, 2L, "flat", 7.0))
    }
    writeEvents(dir, rows)
    val out = TimeSeriesOps.regression(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Double]("slope"), r.getAs[Double]("intercept"),
          r.getAs[Double]("r2")))).toMap
    assert(out("lin") == ((3.0, 2.0, 1.0)), s"got $out")
    // a constant series has den2 = 0 → r2 is NULL (0/0), slope 0
    assert(out("flat")._1 == 0.0 && out("flat")._2 == 7.0, s"got $out")
  }

  test("regression on real data: r2 in [0,1], n partitions the events") {
    val rows = TimeSeriesOps.regression(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n")).sum ==
           Tables.events(spark, sf0001).count())
    rows.foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= -1e-9 && r2 <= 1.0 + 1e-9, s"r2 out of range: $r")
    }
  }

  test("theil_sen matches a direct pairwise-slope median; exact on a planted line") {
    // real data: recompute the median of pairwise slopes directly
    val out = TimeSeriesOps.theilSen(spark, sf0001).collect().head
    val daily = Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1)))
      .sortBy(_._1)
    val slopes = (for {
      i <- daily.indices; j <- (i + 1) until daily.length
    } yield (daily(j)._2 - daily(i)._2).toDouble /
            (daily(j)._1 - daily(i)._1)).sorted
    val n = slopes.length
    val med =
      if (n % 2 == 1) slopes(n / 2)
      else (slopes(n / 2 - 1) + slopes(n / 2)) / 2
    assert(out.getAs[Long]("n_pairs") == n.toLong)
    assert(math.abs(out.getAs[Double]("slope") - med / 100.0) < 1e-3)
    // planted exact line: every pairwise slope identical -> median exact
    val dir = tmpDir("ts_line")
    writeEvents(dir, (0 until 4).map(day =>
      eventRow(day.toLong, day * 86400L, 1L, "view", 10.0 + 2.5 * day)))
    val line = TimeSeriesOps.theilSen(spark, dir).collect().head
    assert(line.getAs[Long]("n_days") == 4L)
    assert(line.getAs[Long]("n_pairs") == 6L)
    assert(line.getAs[Double]("slope") == 2.5, s"got $line")
  }

  test("power_mde matches a direct computation and shrinks with more users") {
    val out = TimeSeriesOps.powerMde(spark, sf0001).collect().head
    val na = out.getAs[Long]("n_a"); val nb = out.getAs[Long]("n_b")
    val p = out.getAs[Double]("p_pool")
    val direct = 2.8016 * math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
    assert(math.abs(out.getAs[Double]("mde_abs") - direct) < 1e-3)
    assert(math.abs(out.getAs[Double]("mde_rel") -
                    out.getAs[Double]("mde_abs") / p) < 1e-3)
    // arms must partition the users (same gate as ab_test/welch)
    assert(na + nb == Tables.events(spark, sf0001)
      .select(col("user_id")).distinct().count())
    assert(out.getAs[Double]("mde_abs") > 0.0)
  }

  test("ngram_novelty: a verbatim copy contributes zero novel grams") {
    val dir = tmpDir("novelty")
    val a = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val c = (1 to 30).map(i => s"gamma$i").mkString(" ")
    writeTable(dir, "documents", Schemas.documents, Seq(
      Row(1L, a, "en", "src_a", a.length.toLong),
      Row(2L, a, "en", "src_b", a.length.toLong),  // exact copy, later id
      Row(3L, c, "en", "src_b", c.length.toLong))) // all-fresh doc
    val out = graft.operators.LlmOps.ngramNovelty(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("novel_grams"),
          r.getAs[Double]("novelty_rate")))).toMap
    // 30 tokens -> 28 distinct 3-grams per doc
    assert(out("src_a") == ((28L, 28L, 1.0)), s"got $out")
    // src_b: doc2 owns nothing (doc1 saw every gram first), doc3 all
    assert(out("src_b") == ((56L, 28L, 0.5)), s"got $out")
  }

  test("ngram_novelty on real data: novel grams total the distinct gram count") {
    val rows = graft.operators.LlmOps.ngramNovelty(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val novel = rows.map(_.getAs[Long]("novel_grams")).sum
    val grams = rows.map(_.getAs[Long]("n_grams")).sum
    assert(novel <= grams)
    // every distinct gram is owned exactly once, corpus-wide
    val distinctGrams = Tables.documents(spark, sf0001)
      .select(explode(expr("ngram_hashes(text)")).as("g"))
      .select(countDistinct(col("g"))).head().getLong(0)
    assert(novel == distinctGrams, s"ownership must partition: $novel vs $distinctGrams")
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf0001).count())
  }

  test("dup_family_hist partitions the corpus and matches the store") {
    val rows = CurationOps.dupFamilyHist(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val total = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total,
      "family sizes must partition the corpus")
    assert(math.abs(rows.map(_.getAs[Double]("corpus_share")).sum - 1.0) < 0.01)
    // recompute the histogram straight from the store
    val store = spark.read.parquet(
      CurationOps.docClusterStoreDir(spark, sf0001))
    val direct = store.groupBy(col("component")).count()
      .groupBy(col("count").as("k")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hist = rows.map(r =>
      r.getAs[Long]("family_size") -> r.getAs[Long]("n_families")).toMap
    assert(hist == direct, s"hist $hist vs store $direct")
  }

  test("bootstrap_ci matches an independent md5-ladder resample; CI brackets the mean") {
    val out = TimeSeriesOps.bootstrapCi(spark, sf0001).collect().head
    val users = Tables.events(spark, sf0001)
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def md5u(s: String): Double = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = dig.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val ladder = Array(0.3679, 0.7358, 0.9197, 0.9810, 0.9963, 0.9994, 0.9999)
    def wt(u: Double): Long = {
      val i = ladder.indexWhere(u < _); if (i < 0) 7L else i.toLong
    }
    val ms = (1 to 200).flatMap { b =>
      var num = 0L; var den = 0L
      users.foreach { case (uid, c) =>
        val w = wt(md5u(s"$uid:$b")); num += w * c; den += w
      }
      if (den > 0) Some((b, num.toDouble / den)) else None
    }
    val sorted = ms.sortBy(t => (t._2, t._1)).map(_._2)
    val cnt = sorted.length
    val lo = sorted((cnt * 25 + 999) / 1000 - 1) / 100.0
    val hi = sorted(cnt * 975 / 1000 - 1) / 100.0
    assert(out.getAs[Long]("n_replicates") == cnt.toLong)
    assert(math.abs(out.getAs[Double]("ci_lo") - lo) < 1e-3, s"lo: $out vs $lo")
    assert(math.abs(out.getAs[Double]("ci_hi") - hi) < 1e-3, s"hi: $out vs $hi")
    assert(out.getAs[Double]("ci_lo") <= out.getAs[Double]("mean_obs"))
    assert(out.getAs[Double]("mean_obs") <= out.getAs[Double]("ci_hi"))
  }

  test("bot_filter flags exactly the users with a >=2-events minute") {
    val dir = tmpDir("bot")
    writeEvents(dir, Seq(
      eventRow(1L, 0L, 1L, "view", 1.0),   // user 1: 2 events in minute 0
      eventRow(2L, 30L, 1L, "click", 1.0),
      eventRow(3L, 90L, 1L, "view", 1.0),  // + a slow third event
      eventRow(4L, 0L, 2L, "view", 1.0),   // user 2: never 2 in a minute
      eventRow(5L, 70L, 2L, "view", 1.0),
      eventRow(6L, 140L, 2L, "view", 1.0)))
    val out = WindowOps.botFilter(spark, dir).collect()
    assert(out.length == 1 && out.head.getAs[Long]("user_id") == 1L, s"got ${out.toSeq}")
    assert(out.head.getAs[Long]("peak_epm") == 2L)
    assert(out.head.getAs[Long]("active_minutes") == 2L)
    assert(out.head.getAs[Long]("total_events") == 3L)
  }
}
