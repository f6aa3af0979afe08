package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{WindowOps, JoinOps, LlmOps}

/** Handcrafted edge-case fixtures (SURVEY.md §5.2): session boundaries,
  * as-of strictness, dedup winner determinism. */
class OperatorEdgeSpec extends AnyFunSuite {
  import TestBase._

  test("sessionize: gap == 1800s stays in session, > 1800s splits; singleton user") {
    val dir = tmpDir("sess")
    val t0 = 1700000000L
    writeEvents(dir, Seq(
      eventRow(1, t0, 1, "view", 1.0),
      eventRow(2, t0 + 1800, 1, "view", 2.0),  // exactly 30 min: same session
      eventRow(3, t0 + 1800 + 1801, 1, "view", 3.0), // 1801s gap: new session
      eventRow(4, t0, 2, "view", 5.0)          // singleton user
    ))
    val out = WindowOps.sessionize(spark, dir).collect()
    val u1 = out.filter(_.getLong(0) == 1).map(r => (r.getLong(1), r.getLong(4)))
    assert(u1.toSeq == Seq((1L, 2L), (2L, 1L)), s"got ${u1.toSeq}")
    val u2 = out.filter(_.getLong(0) == 2)
    assert(u2.length == 1 && u2.head.getLong(4) == 1)
    // invariant: every event lands in exactly one session
    assert(out.map(_.getLong(4)).sum == 4)
  }

  test("asof: purchase with no prior event gets null; immediate predecessor wins") {
    val dir = tmpDir("asof")
    val t0 = 1700000000L
    writeEvents(dir, Seq(
      eventRow(10, t0, 1, "purchase", 1.0),       // first event: no prior
      eventRow(11, t0 + 10, 1, "click", 1.0),
      eventRow(12, t0 + 20, 1, "view", 1.0),
      eventRow(13, t0 + 30, 1, "purchase", 1.0)   // prior = 12 (view)
    ))
    val out = JoinOps.joinAsof(spark, dir).collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(10).isNullAt(2), "first purchase must have null prev")
    assert(byId(13).getLong(2) == 12 && byId(13).getString(3) == "view")
  }

  test("asof_stream: strictly-earlier click wins; same-ts click excluded; none -> null") {
    val dir = tmpDir("asof_stream")
    val t0 = 1700000000L
    writeEvents(dir, Seq(
      eventRow(1, t0 + 100, 1, "click", 1.0),
      eventRow(2, t0 + 200, 1, "purchase", 1.0), // prev = click 1
      eventRow(3, t0 + 300, 1, "click", 1.0),
      eventRow(4, t0 + 300, 1, "purchase", 1.0), // same-ts click 3 excluded -> still 1
      eventRow(5, t0 + 100, 2, "purchase", 1.0)  // user 2 has no clicks -> null
    ))
    val out = JoinOps.joinAsofStream(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out == Map(2L -> Some(1L), 4L -> Some(1L), 5L -> None), s"got $out")
  }

  test("dedup exact: min doc_id survives among normalized duplicates; idempotent counts") {
    val dir = tmpDir("dedup")
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(5L, "Hello World  ", "en", "s0", 13L),
      Row(3L, "  hello world", "en", "s0", 13L), // same after lower+trim? no: inner spaces differ
      Row(7L, "hello world", "en", "s0", 11L),   // dup of 3 after trim+lower? "hello world" vs "  hello world"→"hello world": yes
      Row(9L, "unique text", "fr", "s1", 11L)
    ))
    val out = LlmOps.dedupExact(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "hello world" (3,7 dup → 1 survivor), "Hello World  "→"hello world  "? lower(trim)
    // trim removes outer spaces: "Hello World  " → "hello world" too ⇒ 5,3,7 all dup
    assert(out("en") == 1 && out("fr") == 1, s"got $out")
  }

  test("minhash: planted near-duplicates collide, disjoint texts do not") {
    val dir = tmpDir("mh")
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val disjoint = (1 to 60).map(i => s"other$i").mkString(" ")
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, base, "en", "s0", base.length.toLong),
      Row(2L, nearDup, "en", "s0", nearDup.length.toLong),
      Row(3L, disjoint, "en", "s0", disjoint.length.toLong)
    ))
    val pairs = collectSet(LlmOps.dedupMinhash(spark, dir))
    assert(pairs.contains(Seq(1L, 2L)), s"near-dup pair missing: $pairs")
    assert(!pairs.exists(p => p.contains(3L)), s"disjoint doc bucketed: $pairs")
  }

  test("minhash is deterministic across runs") {
    val a = collectSet(LlmOps.dedupMinhash(spark, sf0001))
    val b = collectSet(LlmOps.dedupMinhash(spark, sf0001))
    assert(a == b)
  }

  test("approx distinct within 5% of exact") {
    val approx = graft.operators.RelationalOps.aggApproxDistinct(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.operators.RelationalOps.aggDistinct(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) / ex <= 0.05, s"$k: approx=$ap exact=$ex")
    }
  }

  test("approx percentile within 1% of exact") {
    val approx = graft.operators.ReportShapeOps.percentilesApprox(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = graft.operators.ReportShapeOps.percentiles(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (m, p90)) =>
      val (am, ap90) = approx(k)
      assert(math.abs(am - m) / m <= 0.01, s"$k median: approx=$am exact=$m")
      assert(math.abs(ap90 - p90) / p90 <= 0.01, s"$k p90: approx=$ap90 exact=$p90")
    }
  }

  test("sort_limit: deterministic under ties (tie-break on key)") {
    val out1 = graft.operators.RelationalOps.sortLimit(spark, sf0001).collect().toSeq
    val out2 = graft.operators.RelationalOps.sortLimit(spark, sf0001).collect().toSeq
    assert(out1 == out2 && out1.size == 10)
  }

  test("embedding_pq: a corpus smaller than the codebook still encodes (3 vectors)") {
    val dir = tmpDir("pq_tiny")
    // 3 nearly-orthogonal vectors: each must self-encode in every subspace
    val rows = (0 until 3).map { i =>
      val v = Array.tabulate(64)(j => if (j % 3 == i) 1.0f else 0.01f * (i + 1))
      Row(i.toLong, v.toSeq, i)
    }
    writeTable(dir, "embeddings", embeddingsSchema, rows)
    val out = LlmOps.embeddingPq(spark, dir).collect()
      .map(r => r.getLong(0) -> ((Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)), r.getDouble(5)))).toMap
    assert(out.size == 3)
    (0L until 3L).foreach { i =>
      val (codes, err) = out(i)
      assert(codes == Seq(i, i, i, i), s"vector $i encoded as $codes")
      assert(err == 0.0, s"vector $i err $err")
    }
  }

  test("text_repetition: degenerate all-same-token document") {
    val dir = tmpDir("rep_degen")
    val t = "a a a a"   // top frac 1.0; bigrams 'a a' x3, distinct 1 -> dup 2/3
    writeTable(dir, "documents", documentsSchema,
      Seq(Row(0L, t, "en", "s0", t.length.toLong)))
    val r = graft.operators.CurationOps.textRepetition(spark, dir).collect().head
    assert(r.getInt(1) == 4 && r.getDouble(2) == 1.0 && r.getDouble(3) == 0.6667,
      s"got $r")
  }

  test("debounce: gap of exactly 5s drops, 6s keeps; first event always kept") {
    val dir = tmpDir("debounce")
    writeEvents(dir, Seq(
      eventRow(1L, 1000L, 1L, "view", 1.0),
      eventRow(2L, 1005L, 1L, "view", 1.0),  // gap == 5 -> dropped
      eventRow(3L, 1011L, 1L, "view", 1.0),  // gap == 6 from prev ROW -> kept
      eventRow(4L, 1000L, 1L, "click", 1.0)  // other type untouched
    ))
    val out = graft.operators.CurationOps.debounce(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("view") == ((2L, 1L)), s"got $out")
    assert(out("click") == ((1L, 0L)))
  }

  test("pack_sequences: oversized doc claims its start bin; fill can exceed 1") {
    val dir = tmpDir("pack")
    def doc(id: Long, nTok: Int): Row =
      Row(id, ("w " * nTok).trim, "en", "web", nTok.toLong * 2)
    // one 5000-token doc (budget 2048): starts at offset 0 -> bin 0 of
    // its shard, fill > 1; a following small doc lands where its own
    // start offset says.
    writeTable(dir, "documents", Schemas.documents, Seq(doc(1L, 5000), doc(2L, 100)))
    val out = graft.operators.CurationOps.packSequences(spark, dir).collect()
    assert(out.map(_.getLong(3)).sum == 5100L, "token mass must be conserved")
    assert(out.forall(_.getLong(2) >= 1L))
    val fills = out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(fills.exists(_._3 > 1.0), s"oversized doc must overflow its bin: ${fills.toSeq}")
  }

  test("cohort_retention: single user active on one day = one (day, 0) cell") {
    val dir = tmpDir("cohort_single")
    writeEvents(dir,
      Seq(eventRow(1, 19723L * 86400L, 7L, "view", 1.0)))
    val out = graft.operators.ReportOps.cohortRetention(spark, dir).collect()
    assert(out.length == 1)
    assert(out.head.getDate(0).toString == "2024-01-01" &&
      out.head.getInt(1) == 0 && out.head.getLong(2) == 1L)
  }

  test("attribution_decay: one half-life between touch and conversion halves the credit") {
    val dir = tmpDir("attr_decay")
    val t0 = 1700000000L
    // one session: view exactly one half-life (600s) before the final
    // purchase. Weights: purchase 2^0 = 1, view 2^-1 = 0.5; revenue 10
    // splits 10*(1/1.5) vs 10*(0.5/1.5) — exactly 6.6667 / 3.3333 at r4.
    writeEvents(dir, Seq(
      eventRow(1, t0, 1, "view", 99.0),
      eventRow(2, t0 + 600, 1, "purchase", 10.0)
    ))
    val out = graft.operators.WindowOps.attributionDecay(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("purchase") == ((1L, 6.6667)), s"got $out")
    assert(out("view") == ((1L, 3.3333)), s"got $out")
  }

  test("heavy_hitters: K boundary ties break lexicographically; counts exact") {
    val dir = tmpDir("hh_edge")
    // 5 words with count 2, 60 singleton words w00..w59: top-50 must be
    // the 5 heavy words + the 45 lexicographically-smallest singletons.
    val heavy = Seq("alpha", "beta", "gamma", "delta", "eps")
    val singles = (0 until 60).map(i => f"w$i%02d")
    val text = (heavy ++ heavy ++ singles).mkString(" ")
    writeTable(dir, "documents", documentsSchema,
      Seq(Row(1L, text, "en", "s0", text.length.toLong)))
    val out = LlmOps.heavyHitters(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.length == 50)
    val kept = out.map(_._1).toSet
    assert(heavy.forall(kept), "all heavy words kept")
    assert(out.filter(r => heavy.contains(r._1)).forall(_._2 == 2L))
    assert(kept -- heavy === singles.sorted.take(45).toSet)
  }

  test("sessionize_stream: emits every sealed session; exact 1800s gap merges (adjacent windows)") {
    val dir = tmpDir("stream_edge")
    val t0 = 1700000000L
    writeEvents(dir, Seq(
      eventRow(1, t0, 1, "view", 1.0),
      eventRow(2, t0 + 10, 1, "view", 2.0),     // same session as 1
      eventRow(3, t0 + 5000, 1, "view", 3.0),   // new session (gap 4990)
      eventRow(4, t0, 2, "view", 1.0),
      eventRow(5, t0 + 1800, 2, "view", 1.0)    // EXACTLY the gap
    ))
    val out = graft.streaming.StreamingOps.sessionizeStreamGated(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val u1 = out.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toSeq
    assert(u1 == Seq((t0 * 1000000L, 2L, 3.0),
                     ((t0 + 5000) * 1000000L, 1L, 3.0)), s"got $u1")
    // session_window MERGES adjacent windows: a gap of exactly the gap
    // duration stays one session — the same "> 30min splits" rule as
    // the batch sessionizer (which this suite pins at the top). This is
    // the only data where the rules could diverge, and they don't.
    val u2 = out.filter(_._1 == 2L)
    assert(u2.length == 1 && u2.head._3 == 2L && u2.head._4 == 2.0,
      s"got ${u2.toSeq}")
    assert(out.map(_._3).sum == 5, "every event lands in exactly one session")
  }

  test("funnel_stream: 24h boundary through the stateful drain; depths match batch semantics") {
    val dir = tmpDir("funnel_stream_edge")
    val t0 = 1700000000L
    writeEvents(dir, Seq(
      // u1: full progression, click at EXACTLY +24h (counts), purchase
      // 10s later — depth 3
      eventRow(1, t0, 1, "view", 1.0),
      eventRow(2, t0 + 86400, 1, "click", 1.0),
      eventRow(3, t0 + 86400 + 10, 1, "purchase", 1.0),
      // u2: click 1s past the window — stops at depth 1
      eventRow(4, t0, 2, "view", 1.0),
      eventRow(5, t0 + 86401, 2, "click", 1.0),
      // u3: click BEFORE the first view (strictly earlier) — not a
      // progression; depth 1. Also exercises order-insensitive state:
      // the click is buffered before any view lowers t1.
      eventRow(6, t0 + 100, 3, "click", 1.0),
      eventRow(7, t0 + 200, 3, "view", 1.0),
      // u4: clicks only — never enters the funnel, no row
      eventRow(8, t0, 4, "click", 1.0)
    ))
    val out = graft.streaming.StreamingOps.funnelStreamGated(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    // entrants u1,u2,u3 = 3; step2 only u1; step3 only u1
    assert(out == Map(1 -> 3L, 2 -> 1L, 3 -> 1L), s"got $out")
  }

  test("attribution_position: U-shape 40/20/40; singleton 100%; pair 50/50") {
    val dir = tmpDir("attr_pos")
    val t0 = 1700000000L
    writeEvents(dir, Seq(
      // user 1: 4 touches, rev 10 → first view 4.0, middles 1.0 each,
      // last purchase 4.0
      eventRow(1, t0, 1, "view", 0.0),
      eventRow(2, t0 + 10, 1, "click", 0.0),
      eventRow(3, t0 + 20, 1, "view", 0.0),
      eventRow(4, t0 + 30, 1, "purchase", 10.0),
      // user 2: singleton purchase keeps 100%
      eventRow(5, t0, 2, "purchase", 5.0),
      // user 3: two touches split 50/50
      eventRow(6, t0, 3, "click", 0.0),
      eventRow(7, t0 + 10, 3, "purchase", 8.0)
    ))
    val out = graft.operators.WindowOps.attributionPosition(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out == Map("view" -> (2L, 5.0), "click" -> (2L, 5.0),
                      "purchase" -> (3L, 13.0)), s"got $out")
  }

  test("mix_temperature: sqrt flattening moves share from high- to low-resource") {
    val dir = tmpDir("mix_temp")
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, "a b c d e f", "en", "s0", 11L), // 6 tokens
      Row(2L, "a b", "en", "s0", 3L),          // 2 tokens → en q = 0.8
      Row(3L, "a b", "fr", "s0", 3L)           // 2 tokens → fr q = 0.2
    ))
    // sqrt(.8) = 2·sqrt(.2) ⇒ temp shares are exactly 2/3 and 1/3
    val out = graft.operators.CurationOps.mixTemperature(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out("en") == ((0.8, 0.6667, 0.8333)), s"got $out")
    assert(out("fr") == ((0.2, 0.3333, 1.6667)), s"got $out")
  }

  test("dedup_incremental: corpus dup, in-batch dup, and fresh doc classified") {
    val dir = tmpDir("dedup_inc")
    // md5-bucket gate: ids 1,2 land in the corpus (<8); 16,19,21,26 in
    // the batch (≥8) — computed from the same md5 prefix both engines use
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, "shared corpus text", "en", "s0", 18L),
      Row(2L, "other corpus", "en", "s0", 12L),
      Row(16L, "shared corpus text", "en", "s0", 18L), // dup_of_corpus
      Row(19L, "fresh text", "en", "s0", 10L),         // kept (min id wins)
      Row(21L, "fresh text", "en", "s0", 10L),         // dup_in_batch
      Row(26L, "unique new", "fr", "s0", 10L)          // kept
    ))
    val out = graft.operators.LlmOps.dedupIncremental(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out == Map(("en", "dup_of_corpus") -> 1L,
                      ("en", "dup_in_batch") -> 1L,
                      ("en", "kept") -> 1L,
                      ("fr", "kept") -> 1L), s"got $out")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("chunk_docs: short doc = one chunk; 51 tokens overlap-chunks at 40; content fingerprint exact") {
    val dir = tmpDir("chunk")
    val t50 = (1 to 50).map("t" + _).mkString(" ")
    val t51 = (1 to 51).map("t" + _).mkString(" ")
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, t50, "en", "s0", t50.length.toLong),  // exactly one window
      Row(2L, t51, "en", "s0", t51.length.toLong),  // one token over → 2 chunks
      Row(3L, "", "en", "s0", 0L)                   // empty: split→[""], 1 chunk
    ))
    val out = graft.operators.CurationOps.chunkDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out.keySet == Set((1L, 0L), (2L, 0L), (2L, 1L), (3L, 0L)),
      s"got ${out.keySet}")
    assert(out((1L, 0L)) == ((0L, 50L, md5hex(t50))))
    assert(out((2L, 0L)) == ((0L, 50L, md5hex(t50))))
    // second chunk starts at token 41 (stride 40) and carries the overlap
    assert(out((2L, 1L)) ==
      ((40L, 11L, md5hex((41 to 51).map("t" + _).mkString(" ")))))
    assert(out((3L, 0L)) == ((0L, 1L, md5hex(""))))
  }

  test("mix_apply: stochastic rounding realizes the planned rate deterministically") {
    val dir = tmpDir("mix_apply")
    // en: 8 tokens (boost 0.8333), fr: 2 tokens (boost 1.6667) — same
    // shares as the mix_temperature fixture; md5 draws computed from the
    // same prefix arithmetic: doc1 .1809, doc2 .6027 (< .8333 → 1 copy
    // each); doc3 .9699 (frac miss → 1), doc5 .4744 (frac hit → 2)
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, "a b c d e f", "en", "s0", 11L),
      Row(2L, "a b", "en", "s0", 3L),
      Row(3L, "a", "fr", "s0", 1L),
      Row(5L, "b", "fr", "s0", 1L)
    ))
    val out = graft.operators.CurationOps.mixApply(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map("en" -> ((2L, 2L, 1.0)), "fr" -> ((2L, 3L, 1.5))),
      s"got $out")
  }

  test("snapshot_diff: all four change classes, exact-cent totals") {
    val dir = tmpDir("snap_diff")
    val ts = new java.sql.Timestamp(1700000000L * 1000)
    // keys 1..15, price 100*k: 13 only in new (insert), 11 only in old
    // (delete), 7 & 14 price-bumped (update), the remaining 11 unchanged
    writeTable(dir, "orders", Schemas.orders, (1L to 15L).map(k =>
      Row(k, k, "O", 100.0 * k, ts, "1-URGENT")))
    val out = graft.operators.IngestOps.snapshotDiff(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      "insert" -> ((1L, 130000L, 0L)),
      "delete" -> ((1L, 0L, 110000L)),
      "update" -> ((2L, 212000L, 210000L)),
      "unchanged" -> ((11L, 750000L, 750000L))), s"got $out")
  }

  test("sample_weighted: stratum under quota keeps every doc, ordered by u/w priority") {
    val dir = tmpDir("samp_w")
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, "a", "xx", "s0", 10L),
      Row(2L, "b", "xx", "s0", 1000L),
      Row(3L, "c", "xx", "s0", 50L)
    ))
    val out = graft.operators.CurationOps.sampleWeighted(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // independent recomputation of the order-sampling priority
    def pri(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0 / w
    }
    val expect = Seq(1L -> 10L, 2L -> 1000L, 3L -> 50L)
      .sortBy { case (id, w) => (pri(id, w), id) }
      .zipWithIndex.map { case ((id, _), i) => (i + 1L, id) }
    assert(out.toSeq == expect, s"got ${out.toSeq} want $expect")
  }

  test("pattern_match: error blocks only INSIDE (view, purchase); 1h boundary inclusive") {
    val dir = tmpDir("pattern")
    val t0 = 1700000000L
    writeEvents(dir, Seq(
      // u1: error BEFORE the view — path is clean
      eventRow(1, t0, 1, "error", 0.0),
      eventRow(2, t0 + 10, 1, "view", 0.0),
      eventRow(3, t0 + 20, 1, "purchase", 1.0),
      // u2: error BETWEEN view and purchase — blocked
      eventRow(4, t0, 2, "view", 0.0),
      eventRow(5, t0 + 10, 2, "error", 0.0),
      eventRow(6, t0 + 20, 2, "purchase", 1.0),
      // u3: view exactly 3600s before — boundary is inclusive (clean)
      eventRow(7, t0, 3, "view", 0.0),
      eventRow(8, t0 + 3600, 3, "purchase", 1.0),
      // u4: view 3601s before — outside the window (no_view)
      eventRow(9, t0, 4, "view", 0.0),
      eventRow(10, t0 + 3601, 4, "purchase", 1.0),
      // u5: no view at all
      eventRow(11, t0 + 5, 5, "purchase", 1.0)
    ))
    val out = WindowOps.patternMatch(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((5L, 2L, 1L, 2L)),
      s"got purchases=${r.getLong(1)} clean=${r.getLong(2)} " +
        s"blocked=${r.getLong(3)} no_view=${r.getLong(4)}")
    assert(r.getDouble(5) == 0.4)
  }

  test("expectations: every injected violation class is counted") {
    val dir = tmpDir("expect")
    val ts = new java.sql.Timestamp(1700000000L * 1000)
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 10.0, ts, "1-URGENT")))
    writeTable(dir, "lineitem", Schemas.lineitem, Seq(
      Row(1L, 1L, 1L, 1, 5.0, 10.0, 0.1, 0.02, "N", "O", ts),   // ok
      Row(1L, 1L, 1L, 2, 99.0, 10.0, 0.1, 0.02, "N", "O", ts),  // qty range
      Row(7L, 1L, 1L, 1, 5.0, 10.0, 0.1, 0.02, "N", "O", ts)))  // FK orphan
    writeEvents(dir, Seq(
      eventRow(1, 1700000000L, 1, "view", 1.0),
      eventRow(1, 1700000100L, 1, "view", 1.0),    // dup event_id
      eventRow(2, 1700000200L, 1, "view", -5.0)))  // negative value
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, "abc", "en", "s0", 3L),
      Row(2L, "abc", "en", "s0", 7L)))             // n_chars mismatch
    val out = graft.operators.ReportShapeOps.expectations(spark, dir)
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out == Map(
      "lineitem_quantity_range" -> ((3L, 1L, false)),
      "lineitem_orderkey_fk" -> ((3L, 1L, false)),
      "events_value_nonnegative" -> ((3L, 1L, false)),
      "events_eventid_unique" -> ((3L, 1L, false)),
      "documents_nchars_consistent" -> ((2L, 1L, false))), s"got $out")
  }

  test("rrf_fusion: the lexically and semantically identical candidate ranks first") {
    val dir = tmpDir("rrf")
    // 10 query docs (ids < 10) + candidates; doc 10 duplicates doc 0's
    // text AND vector, so it holds rank 1 in BOTH lists for q 0 and its
    // fused score 2/61 is the maximum possible
    val docs = (0L to 9L).map(i =>
      Row(i, s"q$i tok$i shared", "en", "s0", 10L)) ++ Seq(
      Row(10L, "q0 tok0 shared", "en", "s0", 10L),
      Row(11L, "shared other words", "en", "s0", 10L))
    writeTable(dir, "documents", documentsSchema, docs)
    def vec(seed: Int) = (0 until 4).map(j =>
      (math.sin(seed * 4 + j) * 100).toFloat).toArray
    writeTable(dir, "embeddings", embeddingsSchema,
      (0L to 9L).map(i => Row(i, vec(i.toInt), 0)) ++ Seq(
        Row(10L, vec(0), 0), Row(11L, vec(99), 0)))
    val out = graft.operators.RetrievalOps.rrfFusion(spark, dir).collect()
    val q0top = out.filter(r => r.getLong(0) == 0L && r.getInt(1) == 1).head
    assert(q0top.getLong(2) == 10L, s"q0 rank-1 was ${q0top.getLong(2)}")
    assert(math.abs(q0top.getDouble(3) - math.rint(2.0 / 61 * 1e4) / 1e4) < 1e-9)
    // every query returns a dense rank 1..k with no duplicate candidates
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length).toSeq)
      assert(rows.map(_.getLong(2)).distinct.length == rows.length, s"q$q dup cand")
    }
  }

  test("funnel_window: step at exactly +24h counts, one second over does not") {
    val dir = tmpDir("funnel_win")
    val t0 = 1700000000L
    writeEvents(dir, Seq(
      eventRow(1, t0, 1, "view", 1.0),
      eventRow(2, t0 + 86400, 1, "click", 1.0),      // exactly 24 h: counts
      eventRow(3, t0 + 86400 + 10, 1, "purchase", 1.0),
      eventRow(4, t0, 2, "view", 1.0),
      eventRow(5, t0 + 86401, 2, "click", 1.0)       // 1 s over: out of window
    ))
    val out = graft.operators.ReportOps.funnelWindow(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out == Map(1 -> 2L, 2 -> 1L, 3 -> 1L), s"got $out")
  }

  test("cdc_apply: all five outcome classes; LAST log record in sequence wins") {
    val dir = tmpDir("cdc")
    val cut = 1705795200L // 2024-01-21 00:00:00 UTC — IngestOps.SinkCutoff
    writeEvents(dir, Seq(
      // user 8 (%7 = 1 → log-excluded): base only -> untouched @ 3.00
      eventRow(1, cut - 100, 8, "view", 3.0),
      // user 2: base 1.00; log U(4.0), D, then U(7.0) last -> updated @ 7.00
      eventRow(2, cut - 100, 2, "view", 1.0),
      eventRow(3, cut + 10, 2, "view", 4.0),
      eventRow(10, cut + 20, 2, "view", 9.0),  // event_id 10 % 5 = 0 -> D
      eventRow(4, cut + 30, 2, "view", 7.0),   // last in sequence: U wins
      // user 3: base 2.00; log U then D last -> deleted (earlier U irrelevant)
      eventRow(6, cut + 10, 3, "view", 5.0),
      eventRow(15, cut + 20, 3, "view", 6.0),  // id 15 % 5 = 0 -> D, last
      eventRow(7, cut - 100, 3, "view", 2.0),
      // user 5 (%5 = 0 → base-excluded): log U -> inserted @ 8.00
      eventRow(8, cut + 10, 5, "view", 8.0),
      // user 10 (%5 = 0): log D for a key the base never had -> ghost_delete
      eventRow(20, cut + 10, 10, "view", 9.0)
    ))
    val out = graft.operators.IngestOps.cdcApply(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      "untouched" -> ((1L, 300L)),
      "updated" -> ((1L, 700L)),
      "deleted" -> ((1L, 0L)),
      "inserted" -> ((1L, 800L)),
      "ghost_delete" -> ((1L, 0L))), s"got $out")
  }

  test("as_of_state: change exactly AT the cutoff wins; post-cutoff-only user absent") {
    val dir = tmpDir("asof_state")
    val cut = 1705795200L // 2024-01-21 00:00:00 UTC
    writeEvents(dir, Seq(
      // user 1: view before, click exactly AT the cutoff -> click valid
      // (valid_from <= T), view's interval closed at T (valid_to > T fails)
      eventRow(1, cut - 100, 1, "view", 1.0),
      eventRow(2, cut, 1, "click", 1.0),
      // user 2: open segment from before the cutoff -> valid
      eventRow(3, cut - 500, 2, "view", 1.0),
      // user 3: first activity after the cutoff -> no state at T
      eventRow(4, cut + 100, 3, "view", 1.0)
    ))
    val out = graft.operators.IngestOps.asOfState(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(3)))).toMap
    assert(out == Map(1L -> (("click", 2)), 2L -> (("view", 1))), s"got $out")
  }

  test("dedup_semantic: linked pair collapses, singleton survives; labels never merge") {
    val dir = tmpDir("dedup_sem")
    // label 0: vectors 0 and 1 identical (cosine 1.0 >= theta), vector 2
    // orthogonal; label 1: vector 3 identical to 0 but blocked by label
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    writeTable(dir, "embeddings", embeddingsSchema, Seq(
      Row(0L, v(1f, 0f), 0), Row(1L, v(1f, 0f), 0), Row(2L, v(0f, 1f), 0),
      Row(3L, v(1f, 0f), 1)
    ))
    val out = graft.operators.LlmOps.dedupSemantic(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(0 -> ((3L, 2L, 1L)), 1 -> ((1L, 1L, 0L))), s"got $out")
  }

  test("dup_spans: overlapping grams merge into one span, distant repeats split; exact coverage") {
    val dir = tmpDir("dup_spans")
    val c = (0 until 8).map(i => s"c$i").mkString(" ")   // the shared 8-gram
    val docs = Seq(
      // A: shared gram at p=0 and again at p=18 (gap > 7 -> two spans)
      Row(1L, c + " " + (0 until 10).map(i => s"a$i").mkString(" ") + " " + c,
          "en", "s", 1L),
      // B: shared gram once at p=0
      Row(2L, c + " " + (0 until 10).map(i => s"b$i").mkString(" "), "en", "s", 1L),
      // C and D: 9 identical tokens -> grams at p=0 AND p=1, gap 1 -> ONE span
      Row(3L, c + " c8", "en", "s", 1L),
      Row(4L, c + " c8", "en", "s", 1L))
    writeTable(dir, "documents", documentsSchema, docs)
    val out = graft.operators.CurationOps.dupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
                                  r.getLong(4), r.getDouble(5)))).toMap
    assert(out == Map(
      1L -> ((26L, 2L, 2L, 16L, 0.6154)),
      2L -> ((18L, 1L, 1L, 8L, 0.4444)),
      3L -> ((9L, 2L, 1L, 9L, 1.0)),
      4L -> ((9L, 2L, 1L, 9L, 1.0))), s"got $out")
  }

  test("trend_ewma: 256/128 dyadic blend across adjacent days; isolated day = own revenue") {
    val dir = tmpDir("ewma")
    val day0 = 19700L
    def ts(dayNum: Long) = new java.sql.Timestamp(dayNum * 86400L * 1000)
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 100.0, ts(day0), "1-URGENT"),
      Row(2L, 1L, "O", 200.0, ts(day0 + 1), "1-URGENT"),
      Row(3L, 1L, "O", 50.0, ts(day0 + 100), "2-HIGH") // > 8 days from anything
    ))
    val out = graft.operators.TimeSeriesOps.trendEwma(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getDouble(3), r.getInt(4)))).toMap
    assert(out((("1-URGENT", day0.toInt))) == ((100.0, 1)))
    // N = 256·20000 + 128·10000 = 6 400 000; D = 384;
    // round4(N/(100·D)) = round4(1666.666…/10) = 166.6667
    assert(out((("1-URGENT", day0.toInt + 1))) == ((166.6667, 2)))
    assert(out((("2-HIGH", day0.toInt + 100))) == ((50.0, 1)))
  }

  // r12 verdict ask #4: the exact-moment queries must survive a group
  // whose n·Σx² / (Σx)² terms exceed int64 — the decimal(38,0) moment
  // rework computes them EXACTLY (like DuckDB's HUGEINT) instead of
  // silently wrapping a long. Expected values are BigInt-derived.

  private def r4d(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("zscore_scale: a past-int64-headroom group computes exact z, no silent wrap") {
    import spark.implicits._
    // 4 docs of ~3.1e9 chars: n·Σx² ≈ 1.5e20 >> 2^63 ≈ 9.2e18 — the
    // pre-r13 long moments wrapped here and emitted garbage z-scores
    val xs = Seq(3100000000L, 1000000000L, 5000000000L, 2000000000L)
    val docs = xs.zipWithIndex
      .map { case (x, i) => (i.toLong, "xx", x) }
      .toDF("doc_id", "lang", "n_chars")
    val out = graft.operators.EvalOps.zscoreScaleOn(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val n = BigInt(xs.length)
    val s1 = xs.map(BigInt(_)).sum
    val s2 = xs.map(x => BigInt(x) * BigInt(x)).sum
    val den = n * s2 - s1 * s1
    // BOTH the intermediates (n·Σx²) AND the final den must exceed 2^63:
    // a small den would let the old long path's two wraps cancel mod 2^64
    assert(n * s2 > BigInt(Long.MaxValue) && den > BigInt(Long.MaxValue),
      "fixture too small to exercise the overflow path")
    for ((x, i) <- xs.zipWithIndex) {
      val num = n * BigInt(x) - s1
      val expected = r4d(num.doubleValue / math.sqrt(den.doubleValue))
      assert(out(i.toLong) == expected,
        s"doc $i: got ${out(i.toLong)}, want exact $expected")
    }
  }

  test("burstiness: past-int64-headroom daily counts compute exact Fano, no silent wrap") {
    import spark.implicits._
    // widely-spread multi-billion daily counts: n·Σx² ≈ 1.4e20 >> 2^63
    // AND m = n·Σx²−(Σx)² ≈ 3.8e19 > 2^63 (see the zscore fixture note)
    val cs = Seq(3000000000L, 6000000000L, 1000000000L)
    val daily = cs.zipWithIndex
      .map { case (c, i) => ("huge", i.toLong, c) }
      .toDF("event_type", "day", "c")
    val r = graft.operators.TimeSeriesOps.burstinessOn(daily).collect().head
    val n = BigInt(cs.length)
    val s1 = cs.map(BigInt(_)).sum
    val s2 = cs.map(c => BigInt(c) * BigInt(c)).sum
    val m = n * s2 - s1 * s1
    assert(n * s2 > BigInt(Long.MaxValue) && m > BigInt(Long.MaxValue),
      "fixture too small to exercise the overflow path")
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(2) == r4d(s1.doubleValue / 3.0), "mean wrong")
    assert(r.getDouble(3) == r4d(m.doubleValue / 3.0 / 3.0), "variance wrapped")
    assert(r.getDouble(4) == r4d(m.doubleValue / (n * s1).doubleValue),
      "fano wrapped")
  }

  test("rsi: all-flat series reports NULL (0/0 window), not 0 or 100") {
    val dir = tmpDir("rsi_flat")
    // 20 identical days → every delta 0 → ΣG+ΣL = 0 in every window
    writeTable(dir, "orders", Schemas.orders, (1 to 20).map { i =>
      Row(i.toLong, 1L, "O", 5.0,
          java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")
    })
    val out = graft.operators.TimeSeriesOps.rsi(spark, dir).collect()
    assert(out.length == 19)
    assert(out.forall(_.isNullAt(2)), "flat series must have NULL rsi")
  }

  test("sax: zero-variance series reads all 'b' with NULL z") {
    val dir = tmpDir("sax_flat")
    writeEvents(dir, (0 until 16).map(day =>
      eventRow(day + 1L, day * 86400L + 10, 1L, "view", 0.0)))
    val out = graft.operators.TimeSeriesOps.sax(spark, dir).collect()
    assert(out.length == 8)
    assert(out.forall(r => r.isNullAt(2) && r.getString(3) == "b"),
      s"got ${out.toSeq}")
  }

  test("holt_winters: single-day series returns the init state verbatim") {
    val dir = tmpDir("hw_one")
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 7.0,
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1")))
    val r = graft.operators.TimeSeriesOps.holtWinters(spark, dir).collect().head
    assert(r.getLong(0) == 1L && r.getDouble(1) == 7.0 && r.getDouble(2) == 0.0)
    // forecast = level + 0 trend + 0 season
    assert(r.getDouble(10) == 7.0, s"got $r")
  }

  test("bollinger: flat series collapses bands onto the mean with NULL %B") {
    val dir = tmpDir("boll_flat")
    writeTable(dir, "orders", Schemas.orders, (1 to 25).map { i =>
      Row(i.toLong, 1L, "O", 5.0,
          java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")
    })
    val out = graft.operators.TimeSeriesOps.bollinger(spark, dir).collect()
    assert(out.length == 25)
    val (warm, full) = out.splitAt(19)
    assert(warm.forall(r => r.isNullAt(2) && r.isNullAt(6)),
      "warm-up rows must be NULL")
    assert(full.forall(r => r.getDouble(2) == 5.0 && r.getDouble(3) == 0.0 &&
      r.getDouble(4) == 5.0 && r.getDouble(5) == 5.0 && r.isNullAt(6)),
      s"flat series: bands collapse, %B NULL — got ${full.toSeq}")
  }

  test("stochastic: monotone ramp pins %K and %D at exactly 100") {
    val dir = tmpDir("stoch_ramp")
    writeTable(dir, "orders", Schemas.orders, (1 to 20).map { i =>
      Row(i.toLong, 1L, "O", i.toDouble,
          java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")
    })
    val out = graft.operators.TimeSeriesOps.stochastic(spark, dir).collect()
    assert(out.length == 20)
    assert(out.take(13).forall(r => r.isNullAt(2) && r.isNullAt(3)),
      "warm-up rows must be NULL")
    assert(out.drop(13).forall(_.getDouble(2) == 100.0), s"got ${out.toSeq}")
    assert(out.drop(15).forall(_.getDouble(3) == 100.0), s"got ${out.toSeq}")
    assert(out(13).isNullAt(3) && out(14).isNullAt(3),
      "%D needs two full trailing windows")
  }

  test("dup_payments: same band within 7 days flags; across bands does not") {
    val dir = tmpDir("dup_pay")
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 150.0,
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1"),
      Row(2L, 1L, "O", 150.5,   // same $100 band, 4 days later → flag
          java.sql.Timestamp.valueOf("1995-01-05 00:00:00"), "1"),
      Row(3L, 1L, "O", 150.0,   // same band, 95 days later → pair, no flag
          java.sql.Timestamp.valueOf("1995-04-10 00:00:00"), "1"),
      Row(4L, 2L, "O", 150.0,   // other customer → no pair
          java.sql.Timestamp.valueOf("1995-01-02 00:00:00"), "1")))
    val r = graft.operators.ReportShapeOps.dupPayments(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
           ((4L, 2L, 1L, 0.5)), s"got $r")
  }

  test("wasserstein: planted $1 mass shift between arms reads exactly 1.0") {
    val dir = tmpDir("w1")
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    // custkey 1 hashes to arm A, 2 to arm B (md5-parity precomputed);
    // all A mass at $1, all B mass at $2 → W1 = |F gap|·support gap = $1
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 1.0, ts, "1"), Row(2L, 1L, "O", 1.0, ts, "1"),
      Row(3L, 2L, "O", 2.0, ts, "1"), Row(4L, 2L, "O", 2.0, ts, "1")))
    val r = graft.operators.TimeSeriesOps.wasserstein(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
           ((2L, 2L, 2L, 1.0)), s"got $r")
  }

  test("js_divergence: hand-computed symmetric two-category shift") {
    val dir = tmpDir("js")
    def o(id: Long, day: Int, pri: String) =
      Row(id, 1L, "O", 1.0,
          java.sql.Timestamp.valueOf(f"1995-01-$day%02d 00:00:00"), pri)
    // half 1 (day 1): P1×3, P2×1; half 2 (day 3): P1×1, P2×3
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1, 1, "P1"), o(2, 1, "P1"), o(3, 1, "P1"), o(4, 1, "P2"),
      o(5, 3, "P1"), o(6, 3, "P2"), o(7, 3, "P2"), o(8, 3, "P2")))
    val out = graft.operators.TimeSeriesOps.jsDivergence(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(5), r.getDouble(6)))
    // contrib = 0.375·ln1.5 + 0.125·ln0.5 = 0.0654060 nats per category
    assert(out.toSeq == Seq(("P1", 65.406, 130.812), ("P2", 65.406, 130.812)),
      s"got ${out.toSeq}")
  }

  test("brown_forsythe: planted 10x spread difference, hand-computed F") {
    val dir = tmpDir("bf")
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "SA"), Row(2L, "C2", 0, 0.0, "SB")))
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 1.0, ts, "1"), Row(2L, 1L, "O", 2.0, ts, "1"),
      Row(3L, 1L, "O", 3.0, ts, "1"),
      Row(4L, 2L, "O", 10.0, ts, "1"), Row(5L, 2L, "O", 20.0, ts, "1"),
      Row(6L, 2L, "O", 30.0, ts, "1")))
    val r = graft.operators.TimeSeriesOps.brownForsythe(spark, dir)
      .collect().head
    // z2: A {2,0,2}, B {20,0,20} → ssb 216/4, ssw 269.33/4, F 3.2079
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)) == ((2L, 6L, 54.0, 67.3333, 3.2079)), s"got $r")
  }

  test("macd: flat series keeps EMAs pinned with zero crossovers") {
    val dir = tmpDir("macd_flat")
    writeTable(dir, "orders", Schemas.orders, (1 to 10).map { i =>
      Row(i.toLong, 1L, "O", 5.0,
          java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.macd(spark, dir).collect().head
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getLong(6)) ==
           ((10L, 5.0, 5.0, 0.0, 0.0, 0.0, 0L)), s"got $r")
  }

  test("kalman_filter: single day returns the init state with NULL innovation") {
    val dir = tmpDir("kf_one")
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 7.0,
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1")))
    val r = graft.operators.TimeSeriesOps.kalmanFilter(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.isNullAt(4)) == ((1L, 7.0, 1.0, 0.0, true)), s"got $r")
  }

  test("kalman_filter: flat series tracks the level exactly, gain near steady state") {
    val dir = tmpDir("kf_flat")
    writeTable(dir, "orders", Schemas.orders, (1 to 30).map { i =>
      Row(i.toLong, 1L, "O", 5.0,
          java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.kalmanFilter(spark, dir)
      .collect().head
    // zero innovations: level stays, |innov| sum 0; gain converges to
    // the steady state (sqrt(q^2+4q)-q)/2 = 0.3904 for q = 0.25
    assert((r.getLong(0), r.getDouble(1), r.getDouble(3), r.getDouble(4)) ==
           ((30L, 5.0, 0.3904, 0.0)), s"got $r")
  }

  test("jarque_bera: hand-computed three-point moments") {
    val dir = tmpDir("jb")
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "SA")))
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 1.0, ts, "1"), Row(2L, 1L, "O", 2.0, ts, "1"),
      Row(3L, 1L, "O", 6.0, ts, "1")))
    val r = graft.operators.TimeSeriesOps.jarqueBera(spark, dir)
      .collect().head
    // z = {-2,-1,3}: m2 = 14/3, m3 = 6, m4 = 98/3 → S = 0.5952,
    // K = 1.5 exactly, JB = 0.5·(36/m2³ + 0.5625) = 0.4584
    assert((r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)) == (("SA", 3L, 0.5952, 1.5, 0.4584)), s"got $r")
  }

  test("jarque_bera: constant segment reports NULL moments") {
    val dir = tmpDir("jb_flat")
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "SA")))
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 5.0, ts, "1"), Row(2L, 1L, "O", 5.0, ts, "1")))
    val r = graft.operators.TimeSeriesOps.jarqueBera(spark, dir)
      .collect().head
    assert(r.getLong(1) == 2L && r.isNullAt(2) && r.isNullAt(3) &&
           r.isNullAt(4), s"zero variance must be NULL: $r")
  }

  test("hurst: series shorter than the smallest block reports NULL everywhere") {
    val dir = tmpDir("hurst_short")
    writeTable(dir, "orders", Schemas.orders, (1 to 5).map { i =>
      Row(i.toLong, 1L, "O", 1.0,
          java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.hurst(spark, dir).collect().head
    assert(r.getLong(0) == 5L &&
           (1 to 5).forall(r.isNullAt), s"got $r")
  }

  test("hurst: constant series has zero-variance blocks and NULL exponent") {
    val dir = tmpDir("hurst_flat")
    writeTable(dir, "orders", Schemas.orders, (0 until 64).map { i =>
      Row(i.toLong + 1, 1L, "O", 1.0,
          java.sql.Timestamp.valueOf(
            java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
              .plusDays(i).format(java.time.format.DateTimeFormatter
                .ofPattern("yyyy-MM-dd HH:mm:ss"))), "1")
    })
    val r = graft.operators.TimeSeriesOps.hurst(spark, dir).collect().head
    assert(r.getLong(0) == 64L && (1 to 5).forall(r.isNullAt), s"got $r")
  }

  test("dtw_distance: two mirrored nations score the hand-computed warp cost") {
    val dir = tmpDir("dtw")
    def o(id: Long, ck: Long, day: String) =
      Row(id, ck, "O", 1.0, java.sql.Timestamp.valueOf(s"$day 00:00:00"), "1")
    writeTable(dir, "nation", Schemas.nation, Seq(
      Row(0, "N0", 0), Row(1, "N1", 0)))
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "SEG"), Row(2L, "C2", 1, 0.0, "SEG")))
    // nation 0: Jan 2, Feb 1; nation 1: Jan 1, Feb 2; global 3/3.
    // costs |6a - 3g| are all 3 → DP corner 6 → dtw = 6/(3·6) = 1/3
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1, 1, "1995-01-05"), o(2, 1, "1995-01-20"), o(3, 1, "1995-02-10"),
      o(4, 2, "1995-01-10"), o(5, 2, "1995-02-05"), o(6, 2, "1995-02-20")))
    val out = graft.operators.TimeSeriesOps.dtwDistance(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq((0, 2L, 0.3333), (1, 2L, 0.3333)), s"got $out")
  }

  test("kruskal_wallis: hand-computed tied midranks and correction") {
    val dir = tmpDir("kw")
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "SA"), Row(2L, "C2", 0, 0.0, "SB")))
    // A = {1,1}, B = {1,2}: midranks {2,2,2,4} → H = 0.6, C = 0.6 → 1.0
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 1.0, ts, "1"), Row(2L, 1L, "O", 1.0, ts, "1"),
      Row(3L, 2L, "O", 1.0, ts, "1"), Row(4L, 2L, "O", 2.0, ts, "1")))
    val r = graft.operators.TimeSeriesOps.kruskalWallis(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) ==
           ((2L, 4L, 0.6, 1.0)), s"got $r")
  }

  test("tail_index: two-level top yields hill = ln 2; tiny corpus reads NULL") {
    val dir = tmpDir("hill")
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    writeTable(dir, "orders", Schemas.orders,
      (1 to 100).map(i => Row(i.toLong, 1L, "O", 200.0, ts, "1")) :+
      Row(101L, 1L, "O", 100.0, ts, "1"))
    val r = graft.operators.TimeSeriesOps.tailIndex(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) ==
           ((100L, 100.0, 0.6931, 1.4427)), s"got $r")

    val dir2 = tmpDir("hill_small")
    writeTable(dir2, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 5.0, ts, "1")))
    val r2 = graft.operators.TimeSeriesOps.tailIndex(spark, dir2)
      .collect().head
    assert(r2.getLong(0) == 0L && r2.isNullAt(1) && r2.isNullAt(2) &&
           r2.isNullAt(3), s"got $r2")
  }

  test("permutation_test: single-user corpus reports NULL observed diff and p") {
    val dir = tmpDir("perm_one")
    writeEvents(dir, Seq(eventRow(1L, 100L, 1L, "view", 5.0)))
    val r = graft.operators.TimeSeriesOps.permutationTest(spark, dir)
      .collect().head
    // one arm is always empty → T_obs NULL → p NULL; replicates still 200
    assert(r.getLong(0) == 1L && r.isNullAt(1) && r.getLong(2) == 200L &&
           r.getLong(3) == 0L && r.isNullAt(4), s"got $r")
  }

  test("control_chart: planted spike fires rule 1; steady run below center fires rule 4") {
    val dir = tmpDir("cc_spike")
    writeTable(dir, "orders", Schemas.orders,
      (1 to 30).map(i => Row(i.toLong, 1L, "O", 5.0,
        java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")) :+
      Row(31L, 1L, "O", 50.0,
        java.sql.Timestamp.valueOf("1995-01-31 00:00:00"), "1"))
    val out = graft.operators.TimeSeriesOps.controlChart(spark, dir).collect()
    assert(out.length == 31)
    val spike = out.last
    // z_spike = 135000/√6.075e8 ≈ 5.48 → rule1; it breaks the
    // below-center run so rule4 is false on that day
    assert(spike.getBoolean(3) && !spike.getBoolean(6), s"got $spike")
    assert(!out(0).getBoolean(7), "day 1 must be quiet")
    assert(out(9).getBoolean(6), "day 10 ends 8 consecutive below center")
  }

  test("control_chart: flat series reads NULL z and no signals") {
    val dir = tmpDir("cc_flat")
    writeTable(dir, "orders", Schemas.orders, (1 to 10).map { i =>
      Row(i.toLong, 1L, "O", 5.0,
          java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")
    })
    val out = graft.operators.TimeSeriesOps.controlChart(spark, dir).collect()
    assert(out.forall(r => r.isNullAt(2) && !r.getBoolean(7)), s"got ${out.toSeq}")
  }

  test("page_hinkley: level step is detected after the shift, flat series never fires") {
    val dir = tmpDir("ph_step")
    writeTable(dir, "orders", Schemas.orders,
      (0 until 40).map { i =>
        Row(i.toLong + 1, 1L, "O", if (i < 20) 1.0 else 100.0,
            java.sql.Timestamp.valueOf(
              java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
                .plusDays(i).format(java.time.format.DateTimeFormatter
                  .ofPattern("yyyy-MM-dd HH:mm:ss"))), "1")
      })
    val r = graft.operators.TimeSeriesOps.pageHinkley(spark, dir)
      .collect().head
    assert(r.getLong(0) == 40L && r.getBoolean(2), s"got $r")
    val rank = r.getInt(3)
    assert(rank > 20 && rank <= 40, s"must fire after the shift: $r")
    assert(r.getDouble(1) > 10.0, s"got $r")

    val dir2 = tmpDir("ph_flat")
    writeTable(dir2, "orders", Schemas.orders, (1 to 10).map { i =>
      Row(i.toLong, 1L, "O", 5.0,
          java.sql.Timestamp.valueOf(f"1995-01-$i%02d 00:00:00"), "1")
    })
    val r2 = graft.operators.TimeSeriesOps.pageHinkley(spark, dir2)
      .collect().head
    assert(r2.getLong(0) == 10L && r2.isNullAt(1) && !r2.getBoolean(2) &&
           r2.isNullAt(3), s"got $r2")
  }

  test("odds_ratio: balanced 2x2 reads OR 1 with the Woolf CI") {
    val dir = tmpDir("or")
    // md5 parity: users 1,3 → arm A; 2,4 → arm B. One converter per
    // arm (purchase at first event), one non-converter per arm.
    writeEvents(dir, Seq(
      eventRow(1L, 100L, 1L, "purchase", 1.0),
      eventRow(2L, 100L, 3L, "view", 0.0),
      eventRow(3L, 100L, 2L, "purchase", 1.0),
      eventRow(4L, 100L, 4L, "view", 0.0)))
    val r = graft.operators.TimeSeriesOps.oddsRatio(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6)) ==
           ((1L, 1L, 1L, 1L, 1.0, 0.0198, 50.4004)), s"got $r")
  }

  test("capture_recapture: hand-computed Lincoln and Chapman estimates") {
    val dir = tmpDir("capre")
    val day = 86400L
    // day 0 census {1,2,3}; day 1 census {2,3,4}; user 5 seen day 5 only
    writeEvents(dir, Seq(
      eventRow(1L, 10L, 1L, "view", 0.0), eventRow(2L, 20L, 2L, "view", 0.0),
      eventRow(3L, 30L, 3L, "view", 0.0),
      eventRow(4L, day + 10L, 2L, "view", 0.0),
      eventRow(5L, day + 20L, 3L, "view", 0.0),
      eventRow(6L, day + 30L, 4L, "view", 0.0),
      eventRow(7L, 5 * day, 5L, "view", 0.0)))
    val r = graft.operators.TimeSeriesOps.captureRecapture(spark, dir)
      .collect().head
    // n1=3, n2=3, m=2 → Lincoln 9/2 = 4.5, Chapman 16/3 − 1 = 4.3333
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5)) ==
           ((3L, 3L, 2L, 5L, 4.5, 4.3333)), s"got $r")
  }

  test("runs_test: alternating series maximizes runs, hand-computed z") {
    val dir = tmpDir("runs")
    writeTable(dir, "orders", Schemas.orders, (0 until 6).map { i =>
      Row(i.toLong + 1, 1L, "O", if (i % 2 == 0) 1.0 else 3.0,
          java.sql.Timestamp.valueOf(f"1995-01-${i + 1}%02d 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.runsTest(spark, dir).collect().head
    // median 2 → sides 3/3, runs 6; mu = 4, sigma = √1.2 → z = 1.8257
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5)) ==
           ((6L, 3L, 3L, 6L, 4.0, 1.8257)), s"got $r")
  }

  test("turning_points: sawtooth turns at every interior day") {
    val dir = tmpDir("tp")
    writeTable(dir, "orders", Schemas.orders, (0 until 5).map { i =>
      Row(i.toLong + 1, 1L, "O", if (i % 2 == 0) 1.0 else 3.0,
          java.sql.Timestamp.valueOf(f"1995-01-${i + 1}%02d 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.turningPoints(spark, dir)
      .collect().head
    // T = 3 of E = 2, Var = 51/90 → z = 1.3284
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) ==
           ((5L, 3L, 2.0, 1.3284)), s"got $r")
  }

  test("value_at_risk: monotone ramp reads a negative loss; tiny series NULLs") {
    val dir = tmpDir("var")
    writeTable(dir, "orders", Schemas.orders, (0 until 21).map { i =>
      Row(i.toLong + 1, 1L, "O", (i + 1).toDouble,
          java.sql.Timestamp.valueOf(f"1995-01-${i + 1}%02d 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.valueAtRisk(spark, dir)
      .collect().head
    // 20 deltas of exactly +$1 → the "worst" day is a $1 gain
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2)) ==
           ((20L, -1.0, -1.0)), s"got $r")

    val dir2 = tmpDir("var_small")
    writeTable(dir2, "orders", Schemas.orders, (0 until 5).map { i =>
      Row(i.toLong + 1, 1L, "O", 5.0,
          java.sql.Timestamp.valueOf(f"1995-01-${i + 1}%02d 00:00:00"), "1")
    })
    val r2 = graft.operators.TimeSeriesOps.valueAtRisk(spark, dir2)
      .collect().head
    assert(r2.getLong(0) == 4L && r2.isNullAt(1) && r2.isNullAt(2),
      s"got $r2")
  }

  test("cohens_d: planted 10-sigma separation with hand-computed Hedges g") {
    val dir = tmpDir("cd")
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    // custkey 1 → arm A {1,2,3}; custkey 2 → arm B {11,12,13}:
    // variances 1, pooled sd 1, d = −10; J = 1 − 3/15 = 0.8 → g = −8
    writeTable(dir, "orders", Schemas.orders, Seq(
      Row(1L, 1L, "O", 1.0, ts, "1"), Row(2L, 1L, "O", 2.0, ts, "1"),
      Row(3L, 1L, "O", 3.0, ts, "1"),
      Row(4L, 2L, "O", 11.0, ts, "1"), Row(5L, 2L, "O", 12.0, ts, "1"),
      Row(6L, 2L, "O", 13.0, ts, "1")))
    val r = graft.operators.TimeSeriesOps.cohensD(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5)) ==
           ((3L, 3L, 2.0, 12.0, -10.0, -8.0)), s"got $r")
  }

  test("partial_corr: hand-computed three-order moments give partial exactly 1") {
    val dir = tmpDir("pcorr")
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    def l(ok: Long, ln: Int, q: Double, p: Double) =
      Row(ok, 1L, 1L, ln, q, p, 0.0, 0.0, "N", "O", ts)
    // per-order (x=Σqty, y=cents, z=lines): (10,100,2), (20,300,3),
    // (30,200,1) → r_xy=0.5, r_xz=−0.5, r_yz=0.5 → partial = 1.0
    writeTable(dir, "lineitem", Schemas.lineitem, Seq(
      l(1L, 1, 5.0, 0.5), l(1L, 2, 5.0, 0.5),
      l(2L, 1, 6.0, 1.0), l(2L, 2, 7.0, 1.0), l(2L, 3, 7.0, 1.0),
      l(3L, 1, 30.0, 2.0)))
    val r = graft.operators.TimeSeriesOps.partialCorr(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)) == ((3L, 0.5, -0.5, 0.5, 1.0)), s"got $r")
  }

  test("sharpe: ten +$3 / ten -$1 deltas give the hand-computed ratio pair") {
    val dir = tmpDir("sharpe")
    // daily $: 10, then +3/day for 10 days (→40), then -1/day for 10 (→30)
    val dollars = (0 to 20).map { i =>
      if (i <= 10) 10.0 + 3.0 * i else 40.0 - (i - 10) }
    writeTable(dir, "orders", Schemas.orders, dollars.zipWithIndex.map {
      case (v, i) =>
        Row(i.toLong + 1, 1L, "O", v,
            java.sql.Timestamp.valueOf(f"1995-01-${i + 1}%02d 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.sharpe(spark, dir).collect().head
    // n=20, mean=100c, s=205.1957c, ddev=70.7107c
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5)) ==
           ((20L, 1.0, 2.052, 0.4873, 0.7071, 1.4142)), s"got $r")
  }

  test("max_drawdown: 100/500/300/200/600 troughs at day 4 with share 0.6") {
    val dir = tmpDir("mdd")
    val dollars = Seq(100.0, 500.0, 300.0, 200.0, 600.0)
    writeTable(dir, "orders", Schemas.orders, dollars.zipWithIndex.map {
      case (v, i) =>
        Row(i.toLong + 1, 1L, "O", v,
            java.sql.Timestamp.valueOf(f"1995-01-${i + 1}%02d 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.maxDrawdown(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getDate(1).toString, r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5)) ==
           ((5L, "1995-01-04", 500.0, 200.0, 300.0, 0.6)), s"got $r")
  }

  test("modularity: strong cross-region edge reads the hand-computed negative Q") {
    val dir = tmpDir("modul")
    // regions: R0 = {nation 0}, R1 = {1, 2, 3}, R2 = {4, isolated}
    writeTable(dir, "region", Schemas.region,
      (0 to 2).map(i => Row(i, s"R$i")))
    writeTable(dir, "nation", Schemas.nation, Seq(
      Row(0, "N0", 0), Row(1, "N1", 1), Row(2, "N2", 1),
      Row(3, "N3", 1), Row(4, "N4", 2)))
    writeTable(dir, "customer", Schemas.customer,
      (0 to 4).map(i => Row(i.toLong, s"C$i", i, 0.0, "SEG")))
    writeTable(dir, "supplier", Schemas.supplier,
      (0 to 4).map(i => Row(i.toLong, s"S$i", i, 0.0)))
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    // heavy 0↔1 (cross-region) and 2↔3 (inside R1) over six weight-1
    // bridges: Σw = 46, |E| = 10 → cutoff w ≥ 9.2 keeps the 10s only.
    // Undirected strong = {0-1}, {2-3} → m = 2; internal: R1 = 1;
    // degrees: R0 = 1, R1 = 3 → Q contributions 0/2−(1/4)² = −0.0625,
    // 1/2−(3/4)² = −0.0625, and the edge-less R2 reads exactly 0.
    val flows = Seq((0L, 1L, 10), (1L, 0L, 10), (2L, 3L, 10), (3L, 2L, 10),
                    (1L, 2L, 1), (2L, 1L, 1), (0L, 3L, 1), (3L, 0L, 1),
                    (0L, 2L, 1), (2L, 0L, 1))
    var oid = 0L
    val (orows, lrows) = flows.flatMap { case (cn, sn, w) =>
      (1 to w).map { _ =>
        oid += 1
        (Row(oid, cn, "O", 1.0, ts, "1"),
         Row(oid, 1L, sn, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts))
      }
    }.unzip
    writeTable(dir, "orders", Schemas.orders, orows)
    writeTable(dir, "lineitem", Schemas.lineitem, lrows)
    val out = graft.operators.GraphOps.modularity(spark, dir).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out == Map(0 -> ((1L, 0L, 1L, -0.0625)),
                      1 -> ((3L, 1L, 3L, -0.0625)),
                      2 -> ((1L, 0L, 0L, 0.0))), s"got $out")
  }

  test("entropy_rate: planted branching state reads ln 2, funnel state reads 0") {
    val dir = tmpDir("entrate")
    val t0 = 1700000000L
    // one session, chain v v c v v c v → view: {view: 2, click: 2}
    // (H = ln 2), click: {view: 2} (H = 0); weights 4/6 and 2/6
    val chain = Seq("view", "view", "click", "view", "view", "click", "view")
    writeEvents(dir, chain.zipWithIndex.map { case (typ, i) =>
      eventRow(i.toLong + 1, t0 + i * 10, 1, typ, 1.0)
    })
    val out = graft.operators.WindowOps.entropyRate(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                 r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("click", 2L, 1L, 0.0, 0.3333, 0.0),
      ("view", 4L, 2L, 0.6931, 0.6667, 0.4621)), s"got ${out.toSeq}")
  }

  test("mcnemar: hand-built 2/1 discordant cells give chi2 1/3, cc 0") {
    val dir = tmpDir("mcnemar")
    // A = vowel ratio > 0.32, B = contains " the ", truth = lang 'en'
    def doc(id: Long, text: String, lang: String): Row =
      Row(id, text, lang, "s0", text.length.toLong)
    writeTable(dir, "documents", documentsSchema, Seq(
      doc(1L, "aeiou aeiou", "en"),      // A right, B wrong (b)
      doc(2L, "xxxx the xxxx", "en"),    // A wrong, B right (c)
      doc(3L, "aeiou the aeiou", "en"),  // both right
      doc(4L, "xxxx zzzz", "fr"),        // both right (true negative)
      doc(5L, "eeee oooo", "en")))       // A right, B wrong (b)
    val r = graft.operators.EvalOps.mcnemar(spark, dir).collect().head
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
            r.getLong(4), r.getDouble(5), r.getDouble(6)) ==
           ((5L, 0.8, 0.6, 2L, 1L, 0.3333, 0.0)), s"got $r")
  }

  test("fleiss_kappa: unanimous raters read kappa 1; single-class corpus NULLs") {
    val dir = tmpDir("fleiss")
    val good = Seq.fill(50)("lorem").mkString(" ") // 299 chars, 50 tokens
    def doc(id: Long, text: String): Row =
      Row(id, text, "en", "s0", text.length.toLong)
    // good: g = 3 (P_i = 1); "123": g = 0 (P_i = 1) → P̄ = 1,
    // p_good = 0.5, P̄e = 0.5, κ = 1 exactly
    writeTable(dir, "documents", documentsSchema,
      Seq(doc(1L, good), doc(2L, "123")))
    val r = graft.operators.EvalOps.fleissKappa(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5)) ==
           ((2L, 3L, 1.0, 0.5, 0.5, 1.0)), s"got $r")
    // all-good corpus: p_good = 1 → P̄e = 1 → κ NULL via nullif, no crash
    val dir2 = tmpDir("fleiss1")
    writeTable(dir2, "documents", documentsSchema, Seq(doc(1L, good)))
    val r2 = graft.operators.EvalOps.fleissKappa(spark, dir2).collect().head
    assert(r2.getLong(1) == 3L && r2.isNullAt(5), s"got $r2")
  }

  test("cochran_q: hand-built mixed vote reads Q 2; all-agree corpus NULLs") {
    val dir = tmpDir("cochran")
    val good = Seq.fill(50)("lorem").mkString(" ") // g = 3
    val long1tok = "x" * 250                       // r1+r3 fire, r2 not: g = 2
    def doc(id: Long, text: String): Row =
      Row(id, text, "en", "s0", text.length.toLong)
    // c = (2, 1, 2), T = 5, Σg² = 9 + 0 + 4 = 13 →
    // Q = 2·(3·(4+1+4) − 25)/(15 − 13) = 2
    writeTable(dir, "documents", documentsSchema,
      Seq(doc(1L, good), doc(2L, "123"), doc(3L, long1tok)))
    val r = graft.operators.EvalOps.cochranQ(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5)) ==
           ((3L, 1L, 0.6667, 0.3333, 0.6667, 2.0)), s"got $r")
    // unanimous corpus: kT = ΣR² → Q NULL via nullif, no crash
    val dir2 = tmpDir("cochran1")
    writeTable(dir2, "documents", documentsSchema,
      Seq(doc(1L, good), doc(2L, "123")))
    val r2 = graft.operators.EvalOps.cochranQ(spark, dir2).collect().head
    assert(r2.getLong(1) == 0L && r2.isNullAt(5), s"got $r2")
  }

  test("simpson_diversity: 'a a b' reads lambda 1/3; single token NULLs") {
    val dir = tmpDir("simpson")
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, "a a b", "en", "s0", 5L),
      Row(2L, "solo", "en", "s1", 4L)))
    val out = graft.operators.LlmOps.simpsonDiversity(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val s0 = out("s0")
    // s2 = 2·1 + 1·0 = 2, N(N−1) = 6 → λ = 0.3333, 1−λ = 0.6667, 1/λ = 3
    assert((s0.getLong(1), s0.getLong(2), s0.getDouble(3), s0.getDouble(4),
            s0.getDouble(5)) == ((3L, 2L, 0.3333, 0.6667, 3.0)), s"got $s0")
    val s1 = out("s1") // N = 1 → N(N−1) = 0 → all three NULL via nullif
    assert(s1.getLong(1) == 1L && s1.isNullAt(3) && s1.isNullAt(5),
           s"got $s1")
  }

  test("msttr: distinct-then-repetitive doc reads 0.51; short doc excluded") {
    val dir = tmpDir("msttr")
    // segments 0+1: 50 distinct types each; segments 2+3: 50 × "x"
    // each → Σtypes = 102 over 4 segments → 102/200 = 0.51
    val text = ((1 to 100).map(i => s"t$i") ++ Seq.fill(100)("x"))
      .mkString(" ")
    val short = (1 to 30).map(i => s"s$i").mkString(" ") // no full segment
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, text, "en", "s0", text.length.toLong),
      Row(2L, short, "en", "s0", short.length.toLong)))
    val r = graft.operators.LlmOps.msttr(spark, dir).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4)) == (("s0", 1L, 4L, 102L, 0.51)), s"got $r")
  }

  test("part_adoption: staggered first ships give the hand-computed curve") {
    val dir = tmpDir("adopt")
    writeTable(dir, "part", Schemas.part,
      (1 to 4).map(i => Row(i.toLong, s"P$i", "B", "T", 1, 1.0)))
    def li(ok: Long, pk: Long, day: String): Row =
      Row(ok, pk, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf(s"1995-$day 00:00:00"))
    // part 1+2 first ship in Jan (part 1 ships again in Feb — min
    // wins), part 3 first ships in Feb, part 4 never ships
    writeTable(dir, "lineitem", Schemas.lineitem, Seq(
      li(1L, 1L, "01-05"), li(2L, 2L, "01-20"),
      li(3L, 1L, "02-01"), li(4L, 3L, "02-10")))
    val out = graft.operators.ReportOps.partAdoption(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
                 r.getDouble(3)))
    assert(out.toSeq == Seq(("1995-01-01", 2L, 2L, 0.5),
                            ("1995-02-01", 1L, 3L, 0.75)), s"got ${out.toSeq}")
  }

  test("friedman: consistent two-day ranking reads W 1; incomplete day excluded") {
    val dir = tmpDir("friedman")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "S_A"), Row(2L, "C2", 0, 0.0, "S_B"),
      Row(3L, "C3", 0, 0.0, "S_C")))
    def o(ok: Long, ck: Long, price: Double, day: String): Row =
      Row(ok, ck, "O", price, java.sql.Timestamp.valueOf(s"$day 00:00:00"), "1")
    // day 1 and day 2 both rank A < B < C → R = (2, 4, 6), ΣR² = 56,
    // χ² = 12·56/(2·3·4) − 3·2·4 = 4 (the n(k−1) max), W = 1;
    // day 3 lacks segment C → dropped from the blocks
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, 1L, 10.0, "1995-01-01"), o(2L, 2L, 20.0, "1995-01-01"),
      o(3L, 3L, 30.0, "1995-01-01"),
      o(4L, 1L, 1.0, "1995-01-02"), o(5L, 2L, 2.0, "1995-01-02"),
      o(6L, 3L, 3.0, "1995-01-02"),
      o(7L, 1L, 5.0, "1995-01-03"), o(8L, 2L, 5.0, "1995-01-03")))
    val r = graft.operators.TimeSeriesOps.friedman(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) ==
           ((2L, 3L, 4.0, 1.0)), s"got $r")
  }

  test("band_migration: three planted movers land in their hand-banded cells") {
    val dir = tmpDir("bandmig")
    def o(ok: Long, ck: Long, price: Double, day: String): Row =
      Row(ok, ck, "O", price, java.sql.Timestamp.valueOf(s"$day 00:00:00"), "1")
    // half split: midpoint of Jan 1 and Jan 10 epochs → Jan 1-5 = H1.
    // cA: $600k in H1 only → (1_low, 0_none); cB: $2M H1, $1.2M H2 →
    // (3_high, 2_mid); cC: $500k H2 only → (0_none, 1_low)
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, 1L, 600000.0, "1995-01-01"),
      o(2L, 2L, 2000000.0, "1995-01-02"), o(3L, 2L, 1200000.0, "1995-01-09"),
      o(4L, 3L, 500000.0, "1995-01-10")))
    val out = graft.operators.ReportOps.bandMigration(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
                 r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("0_none", "1_low", 1L, 0.3333), ("1_low", "0_none", 1L, 0.3333),
      ("3_high", "2_mid", 1L, 0.3333)), s"got ${out.toSeq}")
  }

  test("dormant_customers: 8x-median silence flags; fresh buyer and 2-order customer don't") {
    val dir = tmpDir("dormant")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "SEG"), Row(2L, "C2", 0, 0.0, "SEG"),
      Row(3L, "C3", 0, 0.0, "SEG")))
    def o(ok: Long, ck: Long, day: Int): Row =
      Row(ok, ck, "O", 1.0,
          java.sql.Timestamp.valueOf(
            java.time.LocalDate.of(1995, 1, 1).plusDays(day).atStartOfDay()),
          "1")
    // c1: days 0/10/20 → med gap 10, silent 80 days at mx → dormant;
    // c2: days 0/50/100 → med 50, silent 0 → active (and defines mx);
    // c3: 2 orders → 1 gap → ineligible
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, 1L, 0), o(2L, 1L, 10), o(3L, 1L, 20),
      o(4L, 2L, 0), o(5L, 2L, 50), o(6L, 2L, 100),
      o(7L, 3L, 0), o(8L, 3L, 5)))
    val r = graft.operators.TimeSeriesOps.dormantCustomers(spark, dir)
      .collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
            r.getDouble(4)) == (("SEG", 2L, 1L, 0.5, 30.0)), s"got $r")
  }

  test("tukey_hsd: two planted segments read the hand-computed q -4") {
    val dir = tmpDir("tukey")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "S_A"), Row(2L, "C2", 0, 0.0, "S_B")))
    def o(ok: Long, ck: Long, price: Double): Row =
      Row(ok, ck, "O", price,
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1")
    // A = {1, 3} (mean 2), B = {5, 7} (mean 6): SSW = 84 − 80 = 4,
    // MSW = 2, SE = √(2·0.5·(0.5+0.5)) = 1 → q = diff = −4
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, 1L, 1.0), o(2L, 1L, 3.0), o(3L, 2L, 5.0), o(4L, 2L, 7.0)))
    val r = graft.operators.TimeSeriesOps.tukeyHsd(spark, dir).collect().head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)) ==
           (("S_A", "S_B", 2L, 2L, 2.0, 6.0, -4.0, -4.0)), s"got $r")
  }

  test("ljung_box: 16-day alternating series reads rho1 -0.9375, Q 94.5") {
    val dir = tmpDir("ljung")
    def o(ok: Long, day: Int, price: Double): Row =
      Row(ok, 1L, "O", price,
          java.sql.Timestamp.valueOf(
            java.time.LocalDate.of(1995, 1, 1).plusDays(day).atStartOfDay()),
          "1")
    // $1/$2 alternating over 16 days: every lag-k autocovariance is
    // ±(n−k)·2500 over 16·2500 → Q = 16·18·Σρ²/(n−k) = 94.5 exactly
    writeTable(dir, "orders", Schemas.orders,
      (0 until 16).map(i => o(i.toLong + 1, i, if (i % 2 == 0) 1.0 else 2.0)))
    val r = graft.operators.TimeSeriesOps.ljungBox(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) ==
           ((16L, 7L, -0.9375, 94.5)), s"got $r")
    // 10-day series: rho defined, Q gated NULL (n <= 14)
    val dir2 = tmpDir("ljung10")
    writeTable(dir2, "orders", Schemas.orders,
      (0 until 10).map(i => o(i.toLong + 1, i, if (i % 2 == 0) 1.0 else 2.0)))
    val r2 = graft.operators.TimeSeriesOps.ljungBox(spark, dir2)
      .collect().head
    assert(r2.getLong(0) == 10L && r2.isNullAt(3), s"got $r2")
    // sparse calendar where a lag pair exists AT lag_k == n (days
    // 0..5 and 7: n = 7 distinct days, pair 7 = 0+7 at lag 7): the
    // per-lag term divides by n - lag_k = 0 — the r13 ADVICE edge;
    // the nullif guard must surface the row (NULL q_stat), not throw
    val dir3 = tmpDir("ljung_sparse")
    writeTable(dir3, "orders", Schemas.orders,
      (Seq(0, 1, 2, 3, 4, 5, 7).zipWithIndex.map { case (day, i) =>
        o(i.toLong + 1, day, if (i % 2 == 0) 1.0 else 2.0)
      }))
    val r3 = graft.operators.TimeSeriesOps.ljungBox(spark, dir3)
      .collect().head
    assert(r3.getLong(0) == 7L && r3.isNullAt(3), s"got $r3")
  }

  test("theil_index: equal-spend segments read zero within, hand-computed between") {
    val dir = tmpDir("theil")
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "SEG"), Row(2L, "C2", 0, 0.0, "SEG"),
      Row(3L, "C3", 0, 0.0, "SEG2")))
    def o(ok: Long, ck: Long, price: Double): Row =
      Row(ok, ck, "O", price,
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1")
    // SEG: two $1 customers (equal → T_within 0); SEG2: one $2 customer
    // (singleton → 0). Shares 0.5/0.5; between = 0.5·ln(0.75) = −0.1438
    // and 0.5·ln(1.5) = 0.2027
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, 1L, 1.0), o(2L, 2L, 1.0), o(3L, 3L, 2.0)))
    val out = graft.operators.ReportOps.theilIndex(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
                 r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("SEG", 2L, 0.5, 0.0, 0.0, -0.1438),
      ("SEG2", 1L, 0.5, 0.0, 0.0, 0.2027)), s"got ${out.toSeq}")
  }

  test("readability: hand-counted words/enders/vowel-runs give the Flesch pair") {
    val dir = tmpDir("readability")
    def doc(id: Long, text: String, src: String): Row =
      Row(id, text, "en", src, text.length.toLong)
    // s0: 5 words, 2 enders, 5 vowel runs → flesch 119.6975, fk −2.815
    // s1: 3 words, 0 enders (floored to 1), 5 runs → 62.79 / 5.2467
    writeTable(dir, "documents", documentsSchema, Seq(
      doc(1L, "the cat sat. it ran!", "s0"),
      doc(2L, "no enders here", "s1")))
    val out = graft.operators.LlmOps.readability(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    assert(out("s0") == ((5L, 2L, 5L, 119.6975, -2.815)), s"got ${out("s0")}")
    assert(out("s1") == ((3L, 1L, 5L, 62.79, 5.2467)), s"got ${out("s1")}")
  }

  test("quantile_te: planted arm values land on the exact bracket stats") {
    val dir = tmpDir("qte")
    def o(ok: Long, ck: Long, price: Double): Row =
      Row(ok, ck, "O", price,
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1")
    // md5 parity: custkey 1 → arm A, custkey 2 → arm B.
    // A = {1,2,3,4}$ → brackets (1, 2, 3); B = {10,20,30,40}$
    writeTable(dir, "orders", Schemas.orders,
      (1 to 4).map(i => o(i.toLong, 1L, i.toDouble)) ++
      (1 to 4).map(i => o(i.toLong + 4, 2L, i * 10.0)))
    val r = graft.operators.TimeSeriesOps.quantileTe(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
            r.getDouble(8), r.getDouble(9), r.getDouble(10)) ==
           ((4L, 4L, 1.0, 10.0, -9.0, 2.0, 20.0, -18.0, 3.0, 30.0, -27.0)),
           s"got $r")
  }

  test("revenue_bridge: matched/new/lapsed parts reconcile to the exact delta") {
    val dir = tmpDir("bridge")
    def li(ok: Long, pk: Long, qty: Double, ext: Double, day: String): Row =
      Row(ok, pk, 1L, 1, qty, ext, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf(s"1995-$day 00:00:00"))
    // Jan: p1 10 units @$1 ($10), p3 5 @$1 ($5). Feb: p1 12 @$1.20
    // ($14.40), p2 4 @$2 ($8). Feb bridge: VE = 2·$1 = $2,
    // PE = 12·$0.20 = $2.40, new $8, lapsed −$5; delta $22.40−$15 = $7.40
    writeTable(dir, "lineitem", Schemas.lineitem, Seq(
      li(1L, 1L, 10.0, 10.0, "01-05"), li(2L, 3L, 5.0, 5.0, "01-20"),
      li(3L, 1L, 12.0, 14.4, "02-10"), li(4L, 2L, 4.0, 8.0, "02-15")))
    val out = graft.operators.ReportOps.revenueBridge(spark, dir).collect()
    assert(out.length == 1, s"got ${out.toSeq}")
    val r = out.head
    assert((r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
            r.getDouble(8)) ==
           (("1995-02-01", 1L, 1L, 1L, 2.0, 2.4, 8.0, -5.0, 7.4)), s"got $r")
  }

  test("ab_subgroups: hand-computed per-segment Welch lift; empty arm NULLs") {
    val dir = tmpDir("absub")
    // md5 parity: custkeys 1, 3 → arm 1; custkey 2 → arm 0
    writeTable(dir, "customer", Schemas.customer, Seq(
      Row(1L, "C1", 0, 0.0, "SEG"), Row(2L, "C2", 0, 0.0, "SEG"),
      Row(3L, "C3", 0, 0.0, "SEG2")))
    def o(ok: Long, ck: Long, price: Double): Row =
      Row(ok, ck, "O", price,
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1")
    // SEG: arm1 = {1,3} (mean 2, var 2), arm0 = {5,7} (mean 6, var 2)
    // → se² = 2, t = −4/√2 = −2.8284
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, 1L, 1.0), o(2L, 1L, 3.0), o(3L, 2L, 5.0), o(4L, 2L, 7.0),
      o(5L, 3L, 9.0)))
    val out = graft.operators.TimeSeriesOps.abSubgroups(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val r = out("SEG")
    assert((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5), r.getDouble(6)) ==
           ((2L, 2L, 2.0, 6.0, -4.0, -2.8284)), s"got $r")
    val r2 = out("SEG2") // control arm empty → NULL lift, no crash
    assert(r2.getLong(1) == 1L && r2.getLong(2) == 0L && r2.isNullAt(5),
           s"got $r2")
  }

  test("daily_p95: 20-order day brackets at 10/19; singleton day collapses") {
    val dir = tmpDir("dailyp95")
    def o(ok: Long, price: Double, day: String): Row =
      Row(ok, 1L, "O", price,
          java.sql.Timestamp.valueOf(s"1995-$day 00:00:00"), "1")
    writeTable(dir, "orders", Schemas.orders,
      (1 to 20).map(i => o(i.toLong, i.toDouble, "01-01")) :+
      o(21L, 5.0, "01-02"))
    val out = graft.operators.TimeSeriesOps.dailyP95(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
                 r.getDouble(3)))
    assert(out.toSeq == Seq(("1995-01-01", 20L, 10.0, 19.0),
                            ("1995-01-02", 1L, 5.0, 5.0)), s"got ${out.toSeq}")
  }

  test("hhi: 75/25 brand split reads 0.625 with 1.6 effective brands") {
    val dir = tmpDir("hhi")
    writeTable(dir, "region", Schemas.region, Seq(Row(0, "R0")))
    writeTable(dir, "nation", Schemas.nation, Seq(Row(0, "N0", 0)))
    writeTable(dir, "customer", Schemas.customer,
      Seq(Row(1L, "C1", 0, 0.0, "SEG")))
    writeTable(dir, "part", Schemas.part, Seq(
      Row(1L, "P1", "B1", "T", 1, 1.0), Row(2L, "P2", "B2", "T", 1, 1.0)))
    val ts = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    writeTable(dir, "orders", Schemas.orders,
      Seq(Row(1L, 1L, "O", 4.0, ts, "1")))
    writeTable(dir, "lineitem", Schemas.lineitem, Seq(
      Row(1L, 1L, 1L, 1, 1.0, 3.0, 0.0, 0.0, "N", "O", ts),
      Row(1L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", ts)))
    val r = graft.operators.ReportOps.hhi(spark, dir).collect().head
    assert((r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)) == (("R0", 2L, 4.0, 0.625, 1.6)), s"got $r")
  }

  test("pmi_skipgram: alternating 8-token doc gives the hand-counted window pairs") {
    val dir = tmpDir("skipgram")
    // "a b a b a b a b": np = 7+6+5+4+3 = 25; (a,b) = 15, (a,a) = 5,
    // (b,b) = 5; unigrams 4/4, NN = 8 → PMI(a,b) = ln 2.4 = 0.8755,
    // PMI(a,a) = PMI(b,b) = ln 0.8 = −0.2231
    val text = Seq.fill(4)("a b").mkString(" ")
    writeTable(dir, "documents", documentsSchema,
      Seq(Row(1L, text, "en", "s0", text.length.toLong)))
    val out = graft.operators.LlmOps.pmiSkipgram(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
                 r.getDouble(3)))
    assert(out.toSeq == Seq(("a", "a", 5L, -0.2231),
                            ("a", "b", 15L, 0.8755),
                            ("b", "b", 5L, -0.2231)), s"got ${out.toSeq}")
  }

  test("pmi_skipgram: docs shorter than the window don't crash the slice") {
    val dir = tmpDir("skipgram_short")
    // 2- and 3-token docs: size(ws) - k goes NEGATIVE for k ≥ size —
    // the unclamped slice length threw SparkRuntimeException (r13
    // ADVICE); clamped, short docs contribute only their real pairs.
    // Pairs: "a b" → (a,b); "a a a" → (a,a)×3; all below PmiMinCount=5
    // → empty result, same as the DuckDB oracle's empty range().
    writeTable(dir, "documents", documentsSchema, Seq(
      Row(1L, "a b", "en", "s0", 3L),
      Row(2L, "a a a", "en", "s0", 5L)))
    val out = graft.operators.LlmOps.pmiSkipgram(spark, dir).collect()
    assert(out.isEmpty, s"got ${out.toSeq}")
  }

  test("gumbel_maxima: 12 arithmetic monthly maxima give the closed-form fit") {
    val dir = tmpDir("gumbel")
    // one order per month, $1..$12 → maxima 100..1200c, mean $6.5,
    // sd √130000c = 3.6056, β 2.8112, μ 4.8773, 12-mo level 11.7416
    writeTable(dir, "orders", Schemas.orders, (1 to 12).map { i =>
      Row(i.toLong, 1L, "O", i.toDouble,
          java.sql.Timestamp.valueOf(f"1995-$i%02d-05 00:00:00"), "1")
    })
    val r = graft.operators.TimeSeriesOps.gumbelMaxima(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5)) ==
           ((12L, 6.5, 3.6056, 2.8112, 4.8773, 11.7416)), s"got $r")
    // 2 blocks: mean still reads, the fit is NULL-gated
    val dir2 = tmpDir("gumbel2")
    writeTable(dir2, "orders", Schemas.orders, (1 to 2).map { i =>
      Row(i.toLong, 1L, "O", i.toDouble,
          java.sql.Timestamp.valueOf(f"1995-$i%02d-05 00:00:00"), "1")
    })
    val r2 = graft.operators.TimeSeriesOps.gumbelMaxima(spark, dir2)
      .collect().head
    assert(r2.getLong(0) == 2L && !r2.isNullAt(1) && r2.isNullAt(5),
           s"got $r2")
  }

  test("seasonality_strength: exact two-week weekly pattern reads eta2 1") {
    val dir = tmpDir("seastr")
    // 14 days, each weekday identical across the two weeks → all
    // variance is between-dow: eta² = 1, F divides by zero → NULL
    writeTable(dir, "orders", Schemas.orders, (0 until 14).map { i =>
      Row(i.toLong + 1, 1L, "O", (i % 7 + 1).toDouble,
          java.sql.Timestamp.valueOf(
            java.time.LocalDate.of(1995, 1, 1).plusDays(i).atStartOfDay()),
          "1")
    })
    val r = graft.operators.TimeSeriesOps.seasonalityStrength(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((14L, 7L, 1.0))
           && r.isNullAt(3), s"got $r")
  }

  test("langid_prf: planted confusion cells give exact P/R/F1 per class") {
    val dir = tmpDir("langprf")
    def doc(id: Long, text: String, lang: String): Row =
      Row(id, text, lang, "s0", text.length.toLong)
    // "aeiou aeiou" → vr 10/11 > 0.40 → pred es; "xxxx zzzz" → rr 4/9
    // > 0.02 → pred zh. Truth: one es right, one es wrong (pred zh),
    // one zh right → es: tp 1, n_true 2, n_pred 1 → P 1, R 0.5,
    // F1 2/3; zh: tp 1, n_true 1, n_pred 2 → P 0.5, R 1, F1 2/3
    writeTable(dir, "documents", documentsSchema, Seq(
      doc(1L, "aeiou aeiou", "es"),
      doc(2L, "xxxx zzzz", "es"),
      doc(3L, "zzzz xxxx", "zh")))
    val out = graft.operators.LlmOps.langidPrf(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(out("es") == ((2L, 1L, 1L, 1.0, 0.5, 0.6667)), s"got ${out("es")}")
    assert(out("zh") == ((1L, 2L, 1L, 0.5, 1.0, 0.6667)), s"got ${out("zh")}")
  }

  test("peak_load_factor: hand-computed months; peak-day tie breaks to the earlier day") {
    val dir = tmpDir("loadfactor")
    def o(ok: Long, price: Double, day: String): Row =
      Row(ok, 1L, "O", price,
          java.sql.Timestamp.valueOf(s"1995-$day 00:00:00"), "1")
    // Jan: $1/$2/$5 → peak $5 on the 3rd, lf = 8/(3·5) = 0.5333;
    // Feb: $4/$4 → tie → peak day = Feb 1 (earlier), lf = 1
    writeTable(dir, "orders", Schemas.orders, Seq(
      o(1L, 1.0, "01-01"), o(2L, 2.0, "01-02"), o(3L, 5.0, "01-03"),
      o(4L, 4.0, "02-01"), o(5L, 4.0, "02-02")))
    val out = graft.operators.TimeSeriesOps.peakLoadFactor(spark, dir)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDate(2).toString,
                 r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("1995-01-01", 3L, "1995-01-03", 5.0, 2.6667, 0.5333),
      ("1995-02-01", 2L, "1995-02-01", 4.0, 4.0, 1.0)), s"got ${out.toSeq}")
  }

  test("interarrival_cv: gaps 10/30 read mean 20, sd 14.1421, cv 0.7071") {
    val dir = tmpDir("iacv")
    writeTable(dir, "customer", Schemas.customer,
      Seq(Row(1L, "C1", 0, 0.0, "SEG")))
    def o(ok: Long, day: Int): Row =
      Row(ok, 1L, "O", 1.0,
          java.sql.Timestamp.valueOf(
            java.time.LocalDate.of(1995, 1, 1).plusDays(day).atStartOfDay()),
          "1")
    writeTable(dir, "orders", Schemas.orders,
      Seq(o(1L, 0), o(2L, 10), o(3L, 40)))
    val r = graft.operators.TimeSeriesOps.interarrivalCv(spark, dir)
      .collect().head
    assert((r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)) == (("SEG", 2L, 20.0, 14.1421, 0.7071)),
           s"got $r")
  }

  test("revenue_bridge reconciles on real data: vol+price+new-lapsed = delta") {
    // the Laspeyres identity is exact in real arithmetic; the engine
    // rounds each effect to the micro quantum per part and r4 per
    // month, so the residual must stay under ~1e-3 dollars per month
    val rows = graft.operators.ReportOps.revenueBridge(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val recon = r.getDouble(4) + r.getDouble(5) + r.getDouble(6) +
        r.getDouble(7)
      assert(math.abs(recon - r.getDouble(8)) < 1e-3,
        s"month ${r.get(0)}: $recon vs ${r.getDouble(8)}")
    }
  }

  test("theil_index decomposition on real data sums to the true Theil T") {
    // independent scalar recomputation: T = Σ (x/X)·ln(x·N/X) over all
    // customers, vs Σ contribution + Σ between from the operator
    val rows = graft.operators.ReportOps.theilIndex(spark, sf0001).collect()
    val opTotal = rows.map(r => r.getDouble(4) + r.getDouble(5)).sum
    import org.apache.spark.sql.functions.{col, expr, sum}
    val spends = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("x"))
      .collect().map(_.getLong(1).toDouble)
    val total = spends.sum
    val n = spends.length.toDouble
    val trueT = spends.map(x => x / total * math.log(x * n / total)).sum
    assert(math.abs(opTotal - trueT) < 2e-3,
      s"operator total $opTotal vs true $trueT")
  }

  test("attribution_markov: conversion-free corpus reports NULL effects, not a crash") {
    val dir = tmpDir("markov_null")
    writeEvents(dir, Seq(
      eventRow(1L, 100L, 1L, "a", 0.0), eventRow(2L, 200L, 1L, "b", 0.0)))
    val out = graft.operators.WindowOps.attributionMarkov(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1),
                 r.isNullAt(3), r.isNullAt(4))).toSeq
    // P(CONV) = 0 exactly; removal effects and shares NULL via nullif
    assert(out == Seq(("a", 0.0, true, true), ("b", 0.0, true, true)),
      s"got $out")
  }

  test("attribution_markov: purchase-only corpus has no channels and reports no rows") {
    // every journey is a direct conversion: the only transition is
    // START -> CONV, the channel vocabulary is empty, so m and S are
    // NULL and the CONV id is NULL; the DuckDB oracle returns no rows
    val dir = tmpDir("markov_purchase_only")
    writeEvents(dir, Seq(
      eventRow(1L, 100L, 1L, "purchase", 5.0),
      eventRow(2L, 200L, 2L, "purchase", 7.0),
      eventRow(3L, 300L, 2L, "purchase", 9.0)))
    val out = graft.operators.WindowOps.attributionMarkov(spark, dir).collect()
    assert(out.isEmpty, s"got ${out.toSeq}")
  }
}
