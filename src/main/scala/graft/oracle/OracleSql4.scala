package graft.oracle

/** DuckDB oracle SQL, part 4/5 of the split registry (r12 verdict ask
  * #7 — SparkEntry.scala had grown past 6,000 lines): entries q_pr_curve
  * … q_ann_recall, in the original registration order, concatenated back
  * into `SparkEntry.oracleSql`. Contents are byte-identical to the
  * pre-split map (the Verify/DuckDB hash gate is the proof). */
private[graft] object OracleSql4 {
  val m: Map[String, String] = Map(
    "q_pr_curve" ->
      // precision/recall/F1 at every distinct score threshold; cum
      // windows over the distinct-score frame (q_auc's machinery)
      """WITH f AS (SELECT user_id,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                           min(epoch_us(ts::TIMESTAMP)//1000000) AS first_sec,
                           min(CASE WHEN event_type = 'purchase'
                                    THEN epoch_us(ts::TIMESTAMP)//1000000 END)
                             AS first_purch
                    FROM events GROUP BY user_id),
            sc AS (SELECT cents,
                          CASE WHEN first_purch IS NOT NULL
                                    AND first_purch - first_sec <= 86400
                               THEN 1 ELSE 0 END AS pos
                   FROM f),
            bv AS (SELECT cents, CAST(sum(pos) AS BIGINT) AS np,
                          CAST(sum(1 - pos) AS BIGINT) AS nn
                   FROM sc GROUP BY 1),
            t AS (SELECT CAST(sum(pos) AS BIGINT) AS n1 FROM sc),
            c AS (SELECT cents,
                         CAST(sum(np) OVER (ORDER BY cents DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS tp,
                         CAST(sum(nn) OVER (ORDER BY cents DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS fp
                  FROM bv)
         SELECT cents AS thr_cents, tp, fp,
                (round(tp::DOUBLE / (tp + fp), 4) + 0.0) AS prec,
                (round(tp::DOUBLE / n1, 4) + 0.0) AS recall,
                (round(2.0 * tp / (tp + fp + n1), 4) + 0.0) AS f1
         FROM c, t ORDER BY thr_cents""",
    "q_cohens_kappa" ->
      // agreement of the quality gate vs the repetition gate; κ from
      // exact int64 confusion counts, ONE division
      """WITH t0 AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                     FROM documents),
            qa AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
                          (round(CAST(length(replace(text, ' ', ''))
                                 AS DOUBLE) / len(toks), 4) + 0.0) AS mtl,
                          (round(CAST(len(list_distinct(toks)) AS DOUBLE)
                                / len(toks), 4) + 0.0) AS uq,
                          (round(CAST(len(list_filter(toks,
                                  t -> t IN ('the', 'a'))) AS DOUBLE)
                                / len(toks), 4) + 0.0) AS sr
                   FROM t0),
            ra AS (SELECT doc_id,
                          CAST((n_tokens BETWEEN 10 AND 5000)
                               AND (mtl BETWEEN 2.0 AND 12.0)
                               AND uq > 0.2 AND sr < 0.3 AS BIGINT) AS a
                   FROM qa),
            tokc AS (SELECT doc_id, tok, count(*) AS c
                     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                           FROM documents) u
                     GROUP BY 1, 2),
            topf AS (SELECT doc_id, max(c) AS maxc,
                            CAST(sum(c) AS BIGINT) AS n
                     FROM tokc GROUP BY 1),
            bg AS (SELECT doc_id, unnest(list_transform(list_zip(toks, toks[2:]),
                                         p -> p[1] || ' ' || p[2])) AS bigram
                   FROM t0),
            bgs AS (SELECT doc_id, count(*) AS n_bg,
                           count(DISTINCT bigram) AS n_bg_d
                    FROM bg WHERE bigram IS NOT NULL GROUP BY 1),
            rb AS (SELECT f.doc_id,
                          CAST(((round(f.maxc::DOUBLE / f.n, 4) + 0.0) < 0.2)
                               AND ((round(coalesce(
                                      (g.n_bg - g.n_bg_d)::DOUBLE
                                        / nullif(g.n_bg, 0), 0.0), 4) + 0.0)
                                    < 0.2) AS BIGINT) AS b
                   FROM topf f LEFT JOIN bgs g ON f.doc_id = g.doc_id),
            cells AS (SELECT CAST(sum(a * b) AS BIGINT) AS n11,
                             CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                             CAST(sum((1 - a) * b) AS BIGINT) AS n01,
                             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
                      FROM ra JOIN rb USING (doc_id)),
            z AS (SELECT n11, n10, n01, n00,
                         n11 + n10 + n01 + n00 AS nn,
                         (n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00) AS pe_num
                  FROM cells)
         SELECT n11, n10, n01, n00,
                (round((n11 + n00)::DOUBLE / nn, 4) + 0.0) AS po,
                (round(pe_num::DOUBLE / (nn * nn), 4) + 0.0) AS pe,
                (round((nn * (n11 + n00) - pe_num)::DOUBLE
                       / (nn * nn - pe_num), 4) + 0.0) AS kappa
         FROM z ORDER BY n11""",
    "q_item_cf" ->
      // item-item CF: cosine on binary basket vectors, top-3 neighbors
      // per brand ranked on the ROUNDED cosine with brand tie-break
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
                     FROM lineitem JOIN part ON l_partkey = p_partkey),
            bc AS (SELECT b, CAST(count(*) AS BIGINT) AS nb
                   FROM ob GROUP BY 1),
            pr AS (SELECT x.b AS brand, y.b AS neighbor,
                          CAST(count(*) AS BIGINT) AS co
                   FROM ob x JOIN ob y ON x.ok = y.ok AND x.b <> y.b
                   GROUP BY 1, 2),
            sm AS (SELECT brand, neighbor, co,
                          (round(co::DOUBLE
                                 / sqrt(CAST(a.nb * c.nb AS DOUBLE)), 4)
                           + 0.0) AS cosine
                   FROM pr JOIN bc a ON pr.brand = a.b
                           JOIN bc c ON pr.neighbor = c.b),
            rk AS (SELECT brand, neighbor, co, cosine,
                          row_number() OVER (PARTITION BY brand
                            ORDER BY cosine DESC, neighbor) AS rk
                   FROM sm)
         SELECT brand, CAST(rk AS INT) AS rk, neighbor, co, cosine
         FROM rk WHERE rk <= 3 ORDER BY brand, rk""",
    "q_skyline" ->
      // DELIBERATELY the independent NOT EXISTS dominance formulation —
      // the hash gate proves the Spark window rewrite IS skyline
      // semantics, not a mirrored expression
      """WITH p AS (SELECT p_partkey, p_brand, p_size,
                           CAST(round(p_retailprice * 100) AS BIGINT) AS pc
                    FROM part)
         SELECT p_partkey, p_brand, p_size,
                (round(pc::DOUBLE / 100.0, 4) + 0.0) AS price
         FROM p
         WHERE NOT EXISTS (SELECT 1 FROM p q
                           WHERE q.pc <= p.pc AND q.p_size >= p.p_size
                             AND (q.pc < p.pc OR q.p_size > p.p_size))
         ORDER BY p_partkey""",
    "q_mix_shift" ->
      // two-period rate-vs-mix decomposition per market segment; every
      // effect term is ONE identically-spelled IEEE chain from exact ints
      """WITH b AS (SELECT min(epoch_us(o_orderdate::TIMESTAMP)//1000000) AS mn,
                           max(epoch_us(o_orderdate::TIMESTAMP)//1000000) AS mx
                    FROM orders),
            o AS (SELECT c_mktsegment AS segment,
                         CASE WHEN epoch_us(o_orderdate::TIMESTAMP)//1000000 * 2
                                   < mn + mx THEN 1 ELSE 2 END AS p,
                         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                  FROM orders CROSS JOIN b
                       JOIN customer ON o_custkey = c_custkey),
            seg AS (SELECT segment,
                           CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                           CAST(sum(CASE WHEN p = 1 THEN cents ELSE 0 END) AS BIGINT) AS c1,
                           CAST(sum(CASE WHEN p = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                           CAST(sum(CASE WHEN p = 2 THEN cents ELSE 0 END) AS BIGINT) AS c2
                    FROM o GROUP BY 1),
            t AS (SELECT segment, n1, n2, c1, c2,
                         CAST(sum(n1) OVER () AS BIGINT) AS tn1,
                         CAST(sum(n2) OVER () AS BIGINT) AS tn2
                  FROM seg)
         SELECT segment, n1, n2,
                (round(n1::DOUBLE / tn1, 4) + 0.0) AS w1,
                (round(n2::DOUBLE / tn2, 4) + 0.0) AS w2,
                (round(c1::DOUBLE / n1 / 100.0, 4) + 0.0) AS r1,
                (round(c2::DOUBLE / n2 / 100.0, 4) + 0.0) AS r2,
                (round((n2::DOUBLE / tn2) * (c2::DOUBLE / n2 - c1::DOUBLE / n1)
                       / 100.0, 4) + 0.0) AS rate_effect,
                (round((n2::DOUBLE / tn2 - n1::DOUBLE / tn1)
                       * (c1::DOUBLE / n1) / 100.0, 4) + 0.0) AS mix_effect
         FROM t ORDER BY segment""",
    "q_sample_pps" ->
      // systematic PPS: per-lang cumulative weights, md5-derived start,
      // k=5 equally-spaced picks — exact int64 end to end
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
            sp AS (SELECT doc_id, lang, n_chars,
                          CAST(sum(n_chars) OVER (PARTITION BY lang
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS hi
                   FROM d),
            sp2 AS (SELECT doc_id, lang, n_chars, hi,
                           hi - n_chars AS lo FROM sp),
            t AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS w
                  FROM d GROUP BY 1),
            t2 AS (SELECT lang, w, w // 5 AS step,
                          (('0x' || substr(md5(lang), 1, 8))::BIGINT)
                            % (w // 5) AS off
                   FROM t),
            offs AS (SELECT lang, off + j * step AS o
                     FROM t2 CROSS JOIN (SELECT unnest(range(5)) AS j) js)
         SELECT s.lang, s.doc_id, s.n_chars,
                CAST(count(*) AS BIGINT) AS multiplicity
         FROM sp2 s JOIN offs f
              ON s.lang = f.lang AND f.o >= s.lo AND f.o < s.hi
         GROUP BY s.lang, s.doc_id, s.n_chars
         ORDER BY s.lang, s.doc_id""",
    "q_audio_stats" ->
      // closed-form acoustic truth from the source payload: sample =
      // (byte - 128) << 8, so |s| = (128 - ord(char)) * 256 on the
      // ASCII corpus (a non-ASCII regeneration breaks this gate LOUDLY)
      """WITH a AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 3 = 1 AND length(text) > 0),
            ch AS (SELECT doc_id,
                          (128 - ord(substr(text, CAST(i AS INT), 1))) * 256 AS av
                   FROM a, unnest(range(1, length(text) + 1)) AS t(i)),
            st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns,
                          max(av) AS peak,
                          CAST(sum(av) AS BIGINT) AS sabs,
                          CAST(sum(CAST(av AS BIGINT) * av) AS BIGINT) AS ssq,
                          CAST(sum(CASE WHEN av < 2048 THEN 1 ELSE 0 END)
                               AS BIGINT) AS nq
                   FROM ch GROUP BY 1)
         SELECT doc_id AS asset_id, CAST(ns AS INT) AS n_samples,
                CAST(peak AS INT) AS peak,
                (round(sabs::DOUBLE / ns, 4) + 0.0) AS mean_abs,
                (round(sqrt(ssq::DOUBLE / ns), 4) + 0.0) AS rms,
                (round(nq::DOUBLE / ns, 4) + 0.0) AS quiet_ratio
         FROM st ORDER BY asset_id""",
    "q_pixel_stats" ->
      // closed-form pixel truth: the builder cycles the payload through
      // the stride-padded pixel array, so Σbytes = q·Σpayload +
      // prefix(r) for L = q·n + r — the engine must recover identical
      // numbers by parsing the container
      """WITH a AS (SELECT doc_id, text, length(text) AS n FROM documents
                    WHERE doc_id % 3 = 0 AND length(text) > 0),
            g AS (SELECT doc_id, n, 4 + n % 60 AS w,
                         4 + (7 * n) % 44 AS h
                  FROM a),
            g3 AS (SELECT doc_id, n, w, h,
                          (((3 * w + 3) // 4) * 4) * h AS L
                   FROM g),
            ch AS (SELECT a.doc_id, i,
                          ord(substr(a.text, CAST(i AS INT), 1)) AS v
                   FROM a, unnest(range(1, length(a.text) + 1)) AS t(i)),
            pre AS (SELECT ch.doc_id,
                           CAST(sum(v) AS BIGINT) AS s_all, max(v) AS m_all,
                           CAST(sum(CASE WHEN i <= g3.L % g3.n THEN v
                                         ELSE 0 END) AS BIGINT) AS s_pre,
                           max(CASE WHEN i <= g3.L % g3.n THEN v END) AS m_pre
                    FROM ch JOIN g3 ON ch.doc_id = g3.doc_id GROUP BY 1)
         SELECT g3.doc_id AS asset_id, w AS width, h AS height,
                CAST(L AS INT) AS n_bytes,
                CAST(CASE WHEN L // n >= 1 THEN m_all
                          ELSE coalesce(m_pre, 0) END AS INT) AS max_byte,
                (round(((L // n) * s_all + s_pre)::DOUBLE / L, 4) + 0.0)
                  AS mean_byte
         FROM g3 JOIN pre ON g3.doc_id = pre.doc_id
         ORDER BY asset_id""",
    // both round-trip oracles aggregate the PARQUET source — the Spark
    // side aggregates what came back through the text format, so any
    // fidelity loss in the writer→reader loop breaks the hash
    "q_csv_roundtrip" ->
      """SELECT event_type,
                CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(sum(length(props)) AS BIGINT) AS props_len
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    "q_json_roundtrip" ->
      """SELECT event_type,
                CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(sum(length(props)) AS BIGINT) AS props_len
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    "q_orc_roundtrip" ->
      """SELECT event_type,
                CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(sum(length(props)) AS BIGINT) AS props_len
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    "q_time_weighted_avg" ->
      // step-function TWA: each value holds until the next observation;
      // Δt exact seconds, weighted sum exact int64, one division
      """WITH e AS (SELECT event_type, event_id,
                           epoch_us(ts::TIMESTAMP)//1000000 AS sec,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events),
            l AS (SELECT event_type, cents, sec,
                         lead(sec) OVER (PARTITION BY event_type
                                         ORDER BY sec, event_id) AS next_sec
                  FROM e),
            iv AS (SELECT event_type, cents, next_sec - sec AS dt
                   FROM l WHERE next_sec IS NOT NULL)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
                CAST(sum(dt) AS BIGINT) AS total_sec,
                (round(CAST(sum(cents * dt) AS BIGINT)::DOUBLE
                       / CAST(sum(dt) AS BIGINT) / 100.0, 4) + 0.0) AS twa
         FROM iv GROUP BY 1 ORDER BY event_type""",
    "q_target_encoding" ->
      // smoothed mean encoding: (Σy + m·μ)/(n + m), m=20; identical
      // IEEE chain from exact ints on both engines
      """WITH o AS (SELECT c_mktsegment AS segment,
                           o_orderpriority AS priority,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders JOIN customer ON o_custkey = c_custkey),
            cells AS (SELECT segment, priority,
                             CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(cents) AS BIGINT) AS sc
                      FROM o GROUP BY 1, 2),
            t AS (SELECT CAST(count(*) AS BIGINT) AS tn,
                         CAST(sum(cents) AS BIGINT) AS ts FROM o)
         SELECT segment, priority, n,
                (round(sc::DOUBLE / n / 100.0, 4) + 0.0) AS raw_mean,
                (round((sc::DOUBLE / 100.0 + 20.0 * (ts::DOUBLE / tn / 100.0))
                       / (n + 20), 4) + 0.0) AS encoding,
                (round(20.0 / (n + 20), 4) + 0.0) AS shrink
         FROM cells, t ORDER BY segment, priority""",
    "q_embed_profile" ->
      // per-lane corpus profile; components quantized to exact int64
      // micro-units before summing (float Σ is partition-order-dependent)
      """WITH em AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            lanes AS (SELECT CAST(i - 1 AS INT) AS lane,
                             CAST(round(v[CAST(i AS INT)] * 1000000)
                                  AS BIGINT) AS q
                      FROM em, unnest(range(1, len(v) + 1)) AS t(i)),
            g AS (SELECT lane, CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(q) AS BIGINT) AS sq,
                         CAST(sum(q * q) AS BIGINT) AS sqq,
                         CAST(min(q) AS BIGINT) AS mn,
                         CAST(max(q) AS BIGINT) AS mx
                  FROM lanes GROUP BY 1)
         SELECT lane, n,
                (round(sq::DOUBLE / n / 1000000.0, 4) + 0.0) AS mean,
                (round((sqq::DOUBLE / n - (sq::DOUBLE / n) * (sq::DOUBLE / n))
                       / 1.0e12, 4) + 0.0) AS variance,
                mn AS min_micro, mx AS max_micro
         FROM g ORDER BY lane""",
    "q_growth_accounting" ->
      // weekly new/retained/resurrected/churned; churn booked to the
      // week the user went missing (horizon+1 carries the final churn)
      """WITH uw AS (SELECT DISTINCT user_id,
                            CAST(date_trunc('week', ts::TIMESTAMP) AS DATE) AS wk
                     FROM events),
            cls AS (SELECT user_id, wk,
                           lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
                           lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next
                    FROM uw),
            act AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
                           CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_new,
                           CAST(sum(CASE WHEN date_diff('day', prev, wk) = 7
                                         THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_retained,
                           CAST(sum(CASE WHEN prev IS NOT NULL
                                          AND date_diff('day', prev, wk) > 7
                                         THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_resurrected
                    FROM cls GROUP BY 1),
            churn AS (SELECT wk + 7 AS wk, CAST(count(*) AS BIGINT) AS n_churned
                      FROM cls
                      WHERE next IS NULL OR date_diff('day', wk, next) > 7
                      GROUP BY 1)
         SELECT coalesce(a.wk, c.wk) AS wk,
                coalesce(n_active, 0) AS n_active,
                coalesce(n_new, 0) AS n_new,
                coalesce(n_retained, 0) AS n_retained,
                coalesce(n_resurrected, 0) AS n_resurrected,
                coalesce(n_churned, 0) AS n_churned
         FROM act a FULL OUTER JOIN churn c ON a.wk = c.wk
         ORDER BY wk""",
    "q_audience_overlap" ->
      // exact audience Jaccard per event-type pair (the q_hll_overlap
      // sketch's exact twin); zero-overlap pairs surface via the spine
      """WITH ut AS (SELECT DISTINCT event_type AS t, user_id FROM events),
            sizes AS (SELECT t, CAST(count(*) AS BIGINT) AS n
                      FROM ut GROUP BY 1),
            spine AS (SELECT a.t AS type_a, a.n AS n_a,
                             b.t AS type_b, b.n AS n_b
                      FROM sizes a, sizes b WHERE a.t < b.t),
            inter AS (SELECT x.t AS type_a, y.t AS type_b,
                             CAST(count(*) AS BIGINT) AS inter
                      FROM ut x JOIN ut y
                           ON x.user_id = y.user_id AND x.t < y.t
                      GROUP BY 1, 2)
         SELECT s.type_a, s.type_b, n_a, n_b,
                coalesce(inter, 0) AS inter,
                (round(coalesce(inter, 0)::DOUBLE
                       / (n_a + n_b - coalesce(inter, 0)), 4) + 0.0)
                  AS jaccard
         FROM spine s LEFT JOIN inter i
              ON s.type_a = i.type_a AND s.type_b = i.type_b
         ORDER BY s.type_a, s.type_b""",
    "q_stats_histogram" ->
      // equi-depth 10-bucket histogram over order value with per-bucket
      // NDV — the ANALYZE statistics artifact; unique (cents, orderkey)
      // tiebreak makes bucket membership engine-identical
      """WITH o AS (SELECT o_orderkey, o_custkey,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders),
            b AS (SELECT o_custkey, cents,
                         ntile(10) OVER (ORDER BY cents, o_orderkey) AS bucket
                  FROM o)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_cust,
                (round(min(cents)::DOUBLE / 100.0, 4) + 0.0) AS lo,
                (round(max(cents)::DOUBLE / 100.0, 4) + 0.0) AS hi
         FROM b GROUP BY 1 ORDER BY bucket""",
    "q_sql_pricing" ->
      // the SQL-front-end parity row: identical text to q_agg_pricing's
      // oracle, submitted to Spark as literal SQL
      """SELECT l_returnflag, l_linestatus,
                (round(sum(l_quantity), 4) + 0.0) AS sum_qty,
                (round(sum(l_extendedprice), 4) + 0.0) AS sum_base_price,
                (round(sum(l_extendedprice * (1.0 - l_discount)), 4) + 0.0) AS sum_disc_price,
                (round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) + 0.0) AS sum_charge,
                (round(avg(l_quantity), 4) + 0.0) AS avg_qty,
                (round(avg(l_extendedprice), 4) + 0.0) AS avg_price,
                (round(avg(l_discount), 4) + 0.0) AS avg_disc,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_sql_join_multiway" ->
      // SQL-surface twin of q_join_multiway: same oracle text
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
                (round(sum(l_extendedprice * (1.0 - l_discount)), 4) + 0.0) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_sql_sessionize" ->
      // SQL-surface twin of q_sessionize: same oracle text (the oracle
      // re-derives sessions from raw events; the engine side must
      // reproduce them from the bucketed store through spark.sql)
      """WITH e AS (SELECT user_id, event_id, value,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sids AS (SELECT *, CAST(sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS sid
                     FROM g)
         SELECT user_id, sid, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec,
                count(*) AS n_events, (round(sum(value), 4) + 0.0) AS session_value
         FROM sids GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_session_report_dated" ->
      // the oracle re-derives sessions from raw events over the FULL
      // timeline, then restricts to the window by EVENT day — the
      // engine must reproduce this from the day-partitioned store
      // (pruned listing, full-timeline sids)
      """WITH e AS (SELECT user_id, event_id, value,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sids AS (SELECT *, CAST(sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS sid
                     FROM g)
         SELECT user_id, sid, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec,
                count(*) AS n_events, (round(sum(value), 4) + 0.0) AS window_value
         FROM sids
         WHERE CAST(tsu AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_anova" ->
      // one-way ANOVA from exact int64 sufficient stats; the one
      // cross-group DOUBLE sum (Σ sx²/n) folds in segment order on both
      // engines (list ORDER BY + sequential list_reduce ≙ Spark's
      // sort_array + aggregate), so accumulation order is contractual
      """WITH o AS (SELECT c_mktsegment AS segment,
                           CAST(round(o_totalprice) AS BIGINT) AS x
                    FROM orders JOIN customer ON o_custkey = c_custkey),
            g AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(x * x) AS BIGINT) AS sxx
                  FROM o GROUP BY 1),
            t AS (SELECT CAST(count(*) AS BIGINT) AS k,
                         CAST(sum(n) AS BIGINT) AS nn,
                         CAST(sum(sx) AS BIGINT) AS ts,
                         CAST(sum(sxx) AS BIGINT) AS tss,
                         list_reduce(list(sx::DOUBLE * sx / n
                                          ORDER BY segment),
                                     (acc, x) -> acc + x) AS sum_gb
                  FROM g)
         SELECT k, nn AS n,
                (round(sum_gb - ts::DOUBLE * ts / nn, 4) + 0.0) AS ssb,
                (round(tss::DOUBLE - sum_gb, 4) + 0.0) AS ssw,
                (round(((sum_gb - ts::DOUBLE * ts / nn) / (k - 1))
                       / ((tss::DOUBLE - sum_gb) / (nn - k)), 4) + 0.0) AS f,
                (round((sum_gb - ts::DOUBLE * ts / nn)
                       / (tss::DOUBLE - ts::DOUBLE * ts / nn), 4) + 0.0)
                  AS eta2
         FROM t""",
    "q_backtest_mape" ->
      // walk-forward eval of the seasonal-naive forecast: train on all
      // but the last 7 days, score the holdout day by day
      """WITH daily AS (SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE)
                               AS day,
                              CAST(sum(CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS cents
                        FROM events GROUP BY 1),
            d0 AS (SELECT max(day) AS d0 FROM daily),
            train AS (SELECT (isodow(day) - 1) AS wd,
                             CAST(sum(cents) AS BIGINT) AS sw,
                             CAST(count(*) AS BIGINT) AS nd
                      FROM daily, d0 WHERE day <= d0 - 7 GROUP BY 1),
            hold AS (SELECT day, cents, (isodow(day) - 1) AS wd
                     FROM daily, d0 WHERE day > d0 - 7)
         SELECT day,
                (round(cents::DOUBLE / 100.0, 4) + 0.0) AS actual,
                (round(sw::DOUBLE / nd / 100.0, 4) + 0.0) AS forecast,
                (round(abs(sw::DOUBLE / nd - cents) / 100.0, 4) + 0.0)
                  AS abs_err,
                (round(abs(sw::DOUBLE / nd - cents) / nullif(cents, 0), 4)
                 + 0.0) AS ape
         FROM hold JOIN train USING (wd) ORDER BY day""",
    "q_concurrency" ->
      // sweep line over session intervals: +1 at start, -1 after end;
      // per-day max of the running sum; +1s order before -1s at ties
      """WITH e AS (SELECT user_id, event_id,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sd AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
                     ORDER BY tsu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS sid
                   FROM g),
            sess AS (SELECT user_id, sid, min(ts_sec) AS st, max(ts_sec) AS en
                     FROM sd GROUP BY 1, 2),
            sweep AS (SELECT st AS t, CAST(1 AS BIGINT) AS delta FROM sess
                      UNION ALL
                      SELECT en + 1, CAST(-1 AS BIGINT) FROM sess),
            run AS (SELECT t, delta,
                           CAST(sum(delta) OVER (ORDER BY t, delta DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS BIGINT) AS live
                    FROM sweep)
         SELECT CAST(t // 86400 AS INT) AS day_num,
                CAST(max(live) AS BIGINT) AS peak_concurrent,
                CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_starts
         FROM run GROUP BY 1 ORDER BY day_num""",
    "q_cusum" ->
      // CUSUM closed form: prefix sum minus running extremum; deviation
      // scaled by N so everything is exact int64; alarm = S > total
      """WITH daily AS (SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE)
                               AS day,
                              CAST(sum(CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS cents
                        FROM events GROUP BY 1),
            t AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                         CAST(sum(cents) AS BIGINT) AS total FROM daily),
            p AS (SELECT day, cents, nd, total,
                         CAST(sum(cents * nd - total) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS pp
                  FROM daily, t),
            q AS (SELECT *, least(0, CAST(min(pp) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT)) AS minp,
                         greatest(0, CAST(max(pp) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT)) AS maxp
                  FROM p)
         SELECT day, (round(cents::DOUBLE / 100.0, 4) + 0.0) AS revenue,
                (round((pp - minp)::DOUBLE / nd / 100.0, 4) + 0.0)
                  AS cusum_hi,
                (round((maxp - pp)::DOUBLE / nd / 100.0, 4) + 0.0)
                  AS cusum_lo,
                CASE WHEN pp - minp > total THEN 1 ELSE 0 END AS alarm_hi,
                CASE WHEN maxp - pp > total THEN 1 ELSE 0 END AS alarm_lo
         FROM q ORDER BY day""",
    "q_disorder_audit" ->
      // lateness vs the running arrival max (event_id = arrival order);
      // the measured watermark-sizing numbers
      """WITH e AS (SELECT event_type, event_id,
                           epoch_us(ts::TIMESTAMP)//1000000 AS sec
                    FROM events),
            r AS (SELECT event_type, sec,
                         max(sec) OVER (PARTITION BY event_type
                           ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS runmax
                  FROM e),
            l AS (SELECT event_type,
                         CASE WHEN runmax IS NULL OR runmax <= sec THEN 0
                              ELSE runmax - sec END AS late
                  FROM r)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_late,
                CAST(max(late) AS BIGINT) AS max_late_sec,
                (round(CAST(sum(late) AS BIGINT)::DOUBLE
                       / nullif(CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END)
                                     AS BIGINT), 0), 4) + 0.0)
                  AS avg_late_sec
         FROM l GROUP BY 1 ORDER BY event_type""",
    "q_mutual_info" ->
      // pointwise + table MI over the weekday x type cells; every ln
      // argument is an exact integer ratio
      """WITH g AS (SELECT CAST(isodow(ts::TIMESTAMP) - 1 AS INT) AS wd,
                           event_type, CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
            t AS (SELECT wd, event_type, n,
                         CAST(sum(n) OVER (PARTITION BY wd) AS BIGINT) AS rt,
                         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS ct,
                         CAST(sum(n) OVER () AS BIGINT) AS tot
                  FROM g),
            c AS (SELECT wd, event_type, n,
                         ln((n * tot)::DOUBLE / (rt * ct)) AS pmi,
                         n::DOUBLE / tot * ln((n * tot)::DOUBLE / (rt * ct))
                           AS contrib
                  FROM t)
         SELECT wd, event_type, n,
                (round(pmi, 4) + 0.0) AS pmi,
                (round(contrib, 4) + 0.0) AS contrib,
                (round(sum(contrib) OVER (), 4) + 0.0) AS mi
         FROM c ORDER BY wd, event_type""",
    "q_rolling_corr" ->
      // 14-row rolling Pearson r between daily view and purchase
      // volumes from exact int64 window sufficient stats
      """WITH daily AS (SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE)
                               AS day,
                              CAST(sum(CASE WHEN event_type = 'view'
                                            THEN 1 ELSE 0 END) AS BIGINT) AS x,
                              CAST(sum(CASE WHEN event_type = 'purchase'
                                            THEN 1 ELSE 0 END) AS BIGINT) AS y
                        FROM events GROUP BY 1),
            w AS (SELECT day, x, y,
                         CAST(count(*) OVER fr AS BIGINT) AS n,
                         CAST(sum(x) OVER fr AS BIGINT) AS sx,
                         CAST(sum(y) OVER fr AS BIGINT) AS sy,
                         CAST(sum(x * x) OVER fr AS BIGINT) AS sxx,
                         CAST(sum(y * y) OVER fr AS BIGINT) AS syy,
                         CAST(sum(x * y) OVER fr AS BIGINT) AS sxy
                  FROM daily
                  WINDOW fr AS (ORDER BY day
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT day, x AS n_views, y AS n_purchases,
                (round((n * sxy - sx * sy)::DOUBLE
                       / nullif(sqrt((n * sxx - sx * sx)::DOUBLE
                                     * (n * syy - sy * sy)::DOUBLE), 0.0),
                       4) + 0.0) AS corr14
         FROM w ORDER BY day""",
    "q_shard_manifest" ->
      // per-shard integrity manifest: md5 over the SORTED doc_id list
      // (order-defined concatenation, never collection order)
      """WITH d AS (SELECT doc_id, n_chars,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                            % 16 AS shard
                    FROM documents)
         SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                md5(string_agg(CAST(doc_id AS VARCHAR), ','
                               ORDER BY doc_id)) AS manifest_md5
         FROM d GROUP BY 1 ORDER BY shard""",
    "q_shard_manifest_scale" ->
      // order-insensitive member digest: (sum mod 2^64, xor) of the
      // first 64 md5 bits, carried in exact 32-bit lanes (HUGEINT sums
      // mod'd back — identical lane arithmetic to the engine)
      """WITH d AS (SELECT n_chars,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                            % 16 AS shard,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                            AS h,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
                            AS l
                    FROM documents),
            ag AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                          sum(h) AS sh, sum(l) AS sl,
                          bit_xor(h) AS digest_xor_hi,
                          bit_xor(l) AS digest_xor_lo
                   FROM d GROUP BY 1)
         SELECT shard, n_docs, sum_chars,
                CAST((sh + sl // 4294967296) % 4294967296 AS BIGINT)
                  AS digest_sum_hi,
                CAST(sl % 4294967296 AS BIGINT) AS digest_sum_lo,
                digest_xor_hi, digest_xor_lo
         FROM ag ORDER BY shard""",
    "q_centrality" ->
      // TRUE all-pairs hop distances via recursive CTE — an
      // under-iterated BFS on the Spark side fails this hash loudly;
      // harmonic in exact integers (2520 = lcm(1..10))
      """WITH RECURSIVE e AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst
                              FROM lineitem l
                              JOIN orders o ON l.l_orderkey = o.o_orderkey
                              JOIN customer c ON o.o_custkey = c.c_custkey
                              JOIN supplier s ON l.l_suppkey = s.s_suppkey
                              GROUP BY 1, 2),
            und AS (SELECT DISTINCT least(src, dst) AS a,
                                    greatest(src, dst) AS b
                    FROM e WHERE src <> dst),
            adj AS (SELECT a AS u, b AS v FROM und
                    UNION SELECT b, a FROM und),
            walk AS (SELECT u, v, 1 AS dd FROM adj
                     UNION
                     SELECT w.u, a.v, w.dd + 1
                     FROM walk w JOIN adj a ON w.v = a.u
                     WHERE w.u <> a.v AND w.dd < 10),
            dist AS (SELECT u, v, min(dd) AS dist FROM walk GROUP BY 1, 2)
         SELECT u AS nationkey, CAST(count(*) AS BIGINT) AS n_reachable,
                CAST(max(dist) AS BIGINT) AS eccentricity,
                (round(CAST(sum(2520 // dist) AS BIGINT)::DOUBLE / 2520.0, 4)
                 + 0.0) AS harmonic
         FROM dist GROUP BY 1 ORDER BY nationkey""",
    "q_rank_corr" ->
      // Kendall tau-a + Spearman rho between the half-period brand
      // revenue rankings; unique (cents DESC, brand) tiebreak => no ties
      """WITH li AS (SELECT p_brand AS brand,
                            epoch_us(l_shipdate::TIMESTAMP)//1000000 AS sec,
                            CAST(round(l_extendedprice * 100) AS BIGINT)
                              AS cents
                     FROM lineitem JOIN part ON l_partkey = p_partkey),
            b AS (SELECT min(sec) AS mn, max(sec) AS mx FROM li),
            h AS (SELECT brand,
                         CASE WHEN sec * 2 < mn + mx THEN 1 ELSE 2 END AS hh,
                         cents
                  FROM li, b),
            g AS (SELECT brand, hh, CAST(sum(cents) AS BIGINT) AS cents
                  FROM h GROUP BY 1, 2),
            rk AS (SELECT brand, hh,
                          CAST(row_number() OVER (PARTITION BY hh
                            ORDER BY cents DESC, brand) AS BIGINT) AS r
                   FROM g),
            bt AS (SELECT a.brand, a.r AS r1, c.r AS r2
                   FROM rk a JOIN rk c
                        ON a.brand = c.brand AND a.hh = 1 AND c.hh = 2),
            pr AS (SELECT CAST(sum(CASE WHEN (x.r1 < y.r1) = (x.r2 < y.r2)
                                        THEN 1 ELSE 0 END) AS BIGINT)
                            AS concordant,
                          CAST(sum(CASE WHEN (x.r1 < y.r1) = (x.r2 < y.r2)
                                        THEN 0 ELSE 1 END) AS BIGINT)
                            AS discordant
                   FROM bt x JOIN bt y ON x.brand < y.brand),
            sd AS (SELECT CAST(count(*) AS BIGINT) AS k,
                          CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS d2
                   FROM bt)
         SELECT k, concordant, discordant,
                (round((concordant - discordant)::DOUBLE
                       / (concordant + discordant), 4) + 0.0) AS kendall_tau,
                (round(1.0 - 6.0 * d2 / (k * (k * k - 1)), 4) + 0.0)
                  AS spearman_rho
         FROM pr, sd""",
    "q_novelty_decay" ->
      // per-crawl-epoch novel grams + running vocabulary; epoch is
      // monotone in doc_id so first-epoch = epoch(min doc_id)
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            ep AS (SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS epoch
                   FROM documents),
            ng AS (SELECT doc_id,
                          list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                            AS ngs
                   FROM base),
            nz AS (SELECT doc_id, ngs FROM ng WHERE len(ngs) > 0),
            ex AS (SELECT doc_id, unnest(ngs) AS g FROM nz),
            firsts AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY 1),
            novel AS (SELECT first_doc AS doc_id,
                             CAST(count(*) AS BIGINT) AS novel
                      FROM firsts GROUP BY 1),
            occ AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex
                    GROUP BY 1),
            bye AS (SELECT epoch, CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(coalesce(sum(o.n), 0) AS BIGINT) AS n_grams,
                           CAST(coalesce(sum(v.novel), 0) AS BIGINT)
                             AS novel_grams
                    FROM ep LEFT JOIN occ o USING (doc_id)
                            LEFT JOIN novel v USING (doc_id)
                    GROUP BY 1)
         SELECT epoch, n_docs, n_grams, novel_grams,
                CAST(sum(novel_grams) OVER (ORDER BY epoch
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS vocab_cum,
                (round(novel_grams::DOUBLE / nullif(n_grams, 0), 4) + 0.0)
                  AS novelty_rate
         FROM bye ORDER BY epoch""",
    "q_attribution_shapley" ->
      // Shapley over the fixed 4-channel universe; weights scaled by
      // 4!=24 stay integer; the per-channel powerset sum folds in mask
      // order on both engines (the q_anova rule)
      """WITH u AS (SELECT user_id,
                           CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                                + 2 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                                + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                                + 8 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                                AS BIGINT) AS mask,
                           CAST(max(CASE WHEN event_type = 'purchase'
                                         THEN 1 ELSE 0 END) AS BIGINT) AS conv
                    FROM events GROUP BY 1),
            sub AS (SELECT mask, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(conv) AS BIGINT) AS c
                    FROM u GROUP BY 1),
            spine AS (SELECT unnest(range(16)) AS mask),
            v AS (SELECT spine.mask,
                         coalesce(c::DOUBLE / n, 0.0) AS v
                  FROM spine LEFT JOIN sub USING (mask)),
            ch AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'click'),
                                         (2, 'error'), (4, 'signup'),
                                         (8, 'view')) AS t(bit, channel)),
            terms AS (SELECT ch.channel, v.mask,
                             (CASE bit_count(v.mask) WHEN 0 THEN 6
                                   WHEN 1 THEN 2 WHEN 2 THEN 2
                                   WHEN 3 THEN 6 END)::DOUBLE
                               * (v2.v - v.v) AS term
                      FROM ch JOIN v ON (v.mask & ch.bit) = 0
                              JOIN v v2 ON v2.mask = (v.mask | ch.bit)),
            f AS (SELECT channel,
                         list_reduce(list(term ORDER BY mask),
                                     (a, b) -> a + b) AS s24
                  FROM terms GROUP BY 1)
         SELECT channel, (round(s24 / 24.0, 4) + 0.0) AS shapley
         FROM f ORDER BY channel""",
    "q_coverage_cells" ->
      // completeness matrix: every (lang, source) spine cell with
      // missing/thin flags; 5·n·|cells| < total is the exact-int 20%
      // -of-uniform comparison
      """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
                        FROM documents GROUP BY 1, 2),
            spine AS (SELECT l.lang, s.source
                      FROM (SELECT DISTINCT lang FROM documents) l
                      CROSS JOIN (SELECT DISTINCT source FROM documents) s),
            j AS (SELECT spine.lang, spine.source,
                         CAST(coalesce(n, 0) AS BIGINT) AS n_docs
                  FROM spine LEFT JOIN cells
                       ON spine.lang = cells.lang
                          AND spine.source = cells.source),
            t AS (SELECT lang, source, n_docs,
                         CAST(sum(n_docs) OVER () AS BIGINT) AS total,
                         CAST(count(*) OVER () AS BIGINT) AS n_cells
                  FROM j)
         SELECT lang, source, n_docs,
                (round(n_docs::DOUBLE / total, 4) + 0.0) AS share,
                CASE WHEN n_docs = 0 THEN 1 ELSE 0 END AS missing,
                CASE WHEN n_docs * n_cells * 5 < total THEN 1 ELSE 0 END
                  AS thin
         FROM t ORDER BY lang, source""",
    "q_abc_pareto" ->
      // Class boundaries decided in exact int64 (5·cum ≤ 4·total /
      // 20·cum ≤ 19·total); cum ordered by the total (cents DESC,
      // custkey) key so RANGE==ROWS.
      """WITH spend AS (
           SELECT o_custkey AS custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM spend),
         c AS (SELECT custkey, cents,
                      CAST(sum(cents) OVER (ORDER BY cents DESC, custkey)
                        AS BIGINT) AS cum
               FROM spend),
         cl AS (SELECT CASE WHEN cum * 5 <= total_cents * 4 THEN 'A'
                            WHEN cum * 20 <= total_cents * 19 THEN 'B'
                            ELSE 'C' END AS abc_class, cents
                FROM c, tot)
         SELECT abc_class, count(*) AS n_customers,
                CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue,
                (round(CAST(sum(cents) AS DOUBLE) /
                       (SELECT total_cents FROM tot), 4) + 0.0) AS share
         FROM cl GROUP BY 1 ORDER BY 1""",
    "q_event_dwell" ->
      // Gaps are exact integer µs diffs over the (ts, event_id)-total
      // user timeline; the last event per user has no successor.
      """WITH e AS (SELECT event_type, epoch_us(ts::TIMESTAMP) AS us,
                          lead(epoch_us(ts::TIMESTAMP), 1) OVER
                            (PARTITION BY user_id
                             ORDER BY ts::TIMESTAMP, event_id) AS next_us
                   FROM events)
         SELECT event_type, count(*) AS n_gaps,
                (round(CAST(sum(next_us - us) AS DOUBLE) / 1000000.0 /
                       count(*), 4) + 0.0) AS avg_gap_s,
                (round(CAST(max(next_us - us) AS DOUBLE) / 1000000.0, 4)
                 + 0.0) AS max_gap_s
         FROM e WHERE next_us IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    "q_top_movers" ->
      // Per-series lag is vs the previous OBSERVED week; |Δ| rank ties
      // break on event_type.
      """WITH weekly AS (
           SELECT event_type,
                  date_trunc('week', ts::TIMESTAMP)::DATE AS week,
                  count(*) AS n_events
           FROM events GROUP BY 1, 2),
         d AS (SELECT event_type, week, n_events,
                      lag(n_events, 1) OVER (PARTITION BY event_type
                                             ORDER BY week) AS prev
               FROM weekly),
         r AS (SELECT week, event_type, n_events, prev,
                      n_events - prev AS delta,
                      row_number() OVER (PARTITION BY week
                        ORDER BY abs(n_events - prev) DESC, event_type) AS rk
               FROM d WHERE prev IS NOT NULL)
         SELECT week, rk, event_type, CAST(n_events AS BIGINT) AS n_events,
                CAST(prev AS BIGINT) AS prev, CAST(delta AS BIGINT) AS delta
         FROM r WHERE rk <= 3 ORDER BY week, rk""",
    "q_quarantine" ->
      // Row-level dead-letter feed: one (doc_id, reason) row per
      // violated gate; TTR threshold compares one exact-int division.
      """WITH t AS (SELECT doc_id, lang, n_chars,
                          CAST(len(list_distinct(string_split(text, ' ')))
                            AS DOUBLE) /
                          len(string_split(text, ' ')) AS ttr
                   FROM documents)
         SELECT doc_id, reason FROM (
           SELECT doc_id, 'too_short' AS reason FROM t WHERE n_chars < 150
           UNION ALL
           SELECT doc_id, 'lang_not_target' FROM t
           WHERE lang NOT IN ('en', 'es')
           UNION ALL
           SELECT doc_id, 'low_diversity' FROM t WHERE ttr < 0.34)
         ORDER BY doc_id, reason""",
    "q_graph_2hop" ->
      // Strong-tie cutoff (w·|E| ≥ 2·Σw, exact int64) then 2-hop
      // minus direct; score = Σ min(w_ab, w_bc).
      """WITH edges AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                               count(*) AS w
                        FROM lineitem l
                        JOIN orders o ON l.l_orderkey = o.o_orderkey
                        JOIN customer c ON o.o_custkey = c.c_custkey
                        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        GROUP BY 1, 2),
            cut AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                           count(*) AS ne FROM edges),
            strong AS (SELECT src, dst, w FROM edges, cut
                       WHERE src <> dst AND w * ne >= 2 * tw),
            p AS (SELECT ab.src AS src, bc.dst AS dst, count(*) AS n_paths,
                         CAST(sum(least(ab.w, bc.w)) AS BIGINT) AS score
                  FROM strong ab JOIN strong bc
                       ON ab.dst = bc.src AND ab.src <> bc.dst
                  GROUP BY 1, 2)
         SELECT src, dst, CAST(n_paths AS BIGINT) AS n_paths, score
         FROM p WHERE NOT EXISTS (SELECT 1 FROM strong e
                                  WHERE e.src = p.src AND e.dst = p.dst)
         ORDER BY src, dst""",
    "q_hits" ->
      // two exact unnormalized HITS iterations (HUGEINT sums mirror
      // the engine's decimal(38,0)); ONE terminal division per score
      """WITH e AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                           CAST(count(*) AS BIGINT) AS w
                    FROM lineitem l
                    JOIN orders o ON l.l_orderkey = o.o_orderkey
                    JOIN customer c ON o.o_custkey = c.c_custkey
                    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                    GROUP BY 1, 2),
            a1 AS (SELECT dst AS v, sum(w) AS a FROM e GROUP BY 1),
            h1 AS (SELECT e.src AS u, sum(e.w * a1.a) AS h
                   FROM e JOIN a1 ON e.dst = a1.v GROUP BY 1),
            a2 AS (SELECT e.dst AS v, sum(e.w * h1.h) AS a
                   FROM e JOIN h1 ON e.src = h1.u GROUP BY 1),
            mx AS (SELECT (SELECT max(h) FROM h1) AS mh,
                          (SELECT max(a) FROM a2) AS ma)
         SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
                (round(CAST(coalesce(h1.h, 0) AS DOUBLE) /
                       CAST(mx.mh AS DOUBLE), 4) + 0.0) AS hub_score,
                (round(CAST(coalesce(a2.a, 0) AS DOUBLE) /
                       CAST(mx.ma AS DOUBLE), 4) + 0.0) AS auth_score
         FROM nation n
         LEFT JOIN h1 ON n.n_nationkey = h1.u
         LEFT JOIN a2 ON n.n_nationkey = a2.v, mx
         ORDER BY nationkey""",
    "q_graph_reciprocity" ->
      // strong-tie cutoff (the q_graph_components rule), then per
      // nation: strong out-edges, returned edges, rate (NULL on 0/0)
      """WITH edges AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                               count(*) AS w
                        FROM lineitem l
                        JOIN orders o ON l.l_orderkey = o.o_orderkey
                        JOIN customer c ON o.o_custkey = c.c_custkey
                        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        GROUP BY 1, 2),
            cut AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                           count(*) AS ne FROM edges),
            strong AS (SELECT src, dst FROM edges, cut
                       WHERE src <> dst AND w * ne >= 2 * tw),
            o AS (SELECT src, CAST(count(*) AS BIGINT) AS n_out
                  FROM strong GROUP BY 1),
            r AS (SELECT a.src, CAST(count(*) AS BIGINT) AS n_reciprocated
                  FROM strong a
                  WHERE EXISTS (SELECT 1 FROM strong b
                                WHERE b.src = a.dst AND b.dst = a.src)
                  GROUP BY 1)
         SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
                coalesce(o.n_out, 0) AS n_out,
                coalesce(r.n_reciprocated, 0) AS n_reciprocated,
                (round(CAST(coalesce(r.n_reciprocated, 0) AS DOUBLE) /
                       nullif(CAST(coalesce(o.n_out, 0) AS DOUBLE), 0), 4)
                 + 0.0) AS reciprocity
         FROM nation n
         LEFT JOIN o ON n.n_nationkey = o.src
         LEFT JOIN r ON n.n_nationkey = r.src
         ORDER BY nationkey""",
    "q_assortativity" ->
      // degree assortativity of the undirected strong graph: Pearson r
      // over both orientations of every edge, exact sufficient sums
      // `edges` is MATERIALIZED: DuckDB 1.0 inlines a plain CTE at
      // every reference, and at sf0.1 that plan's temp files pass the
      // oracle's temp-space cap; the result is unchanged
      """WITH edges AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                               count(*) AS w
                        FROM lineitem l
                        JOIN orders o ON l.l_orderkey = o.o_orderkey
                        JOIN customer c ON o.o_custkey = c.c_custkey
                        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        GROUP BY 1, 2),
            cut AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                           count(*) AS ne FROM edges),
            und AS (SELECT DISTINCT least(src, dst) AS a,
                                    greatest(src, dst) AS b
                    FROM edges, cut
                    WHERE src <> dst AND w * ne >= 2 * tw),
            ends AS (SELECT a AS u, b AS v FROM und
                     UNION ALL SELECT b, a FROM und),
            deg AS (SELECT u, CAST(count(*) AS BIGINT) AS du
                    FROM ends GROUP BY 1),
            pr AS (SELECT d1.du AS x, d2.du AS y
                   FROM ends JOIN deg d1 ON ends.u = d1.u
                             JOIN deg d2 ON ends.v = d2.u),
            st AS (SELECT CAST(count(*) AS BIGINT) AS n_ends,
                          CAST(sum(x) AS BIGINT) AS sx,
                          CAST(sum(y) AS BIGINT) AS sy,
                          CAST(sum(x * x) AS BIGINT) AS sxx,
                          CAST(sum(y * y) AS BIGINT) AS syy,
                          CAST(sum(x * y) AS BIGINT) AS sxy
                   FROM pr)
         SELECT n_ends,
                (round(CAST(n_ends * sxy - sx * sy AS DOUBLE) /
                       nullif(sqrt(CAST(n_ends * sxx - sx * sx AS DOUBLE)) *
                              sqrt(CAST(n_ends * syy - sy * sy AS DOUBLE)),
                              0), 4) + 0.0) AS assortativity
         FROM st ORDER BY n_ends""",
    "q_zscore_scale" ->
      // Both scalings are ONE division of integer-derived terms:
      // z = (n·x − Σx)/√(n·Σx² − (Σx)²), mm = (x − min)/(max − min);
      // degenerate groups NULL via nullif.
      """WITH stats AS (
           SELECT lang, count(*) AS n,
                  CAST(sum(n_chars) AS BIGINT) AS s1,
                  CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
                  min(n_chars) AS mn, max(n_chars) AS mx
           FROM documents GROUP BY 1)
         SELECT d.doc_id, d.lang, d.n_chars,
                (round(CAST(n * d.n_chars - s1 AS DOUBLE) /
                       sqrt(nullif(CAST(n * s2 - s1 * s1 AS DOUBLE), 0)), 4)
                 + 0.0) AS z,
                (round(CAST(d.n_chars - mn AS DOUBLE) /
                       nullif(CAST(mx - mn AS DOUBLE), 0), 4) + 0.0) AS mm
         FROM documents d JOIN stats USING (lang)
         ORDER BY doc_id""",
    "q_compaction_plan" ->
      // Prefix-sum binning in exact int64: target = ceil(total/8),
      // bin = cum_before DIV target; source order preserves locality.
      """WITH shards AS (SELECT source, count(*) AS n_docs,
                                CAST(sum(n_chars) AS BIGINT) AS bytes
                         FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(bytes) AS BIGINT) AS total_bytes
                 FROM shards),
         c AS (SELECT source, n_docs, bytes,
                      CAST(sum(bytes) OVER (ORDER BY source) AS BIGINT)
                        AS cum
               FROM shards)
         SELECT source, n_docs, bytes, cum - bytes AS offset_bytes,
                (cum - bytes) // ((total_bytes + 7) // 8) AS bin,
                (round(CAST(bytes AS DOUBLE) / ((total_bytes + 7) // 8), 4)
                 + 0.0) AS fill
         FROM c, tot ORDER BY source""",
    "q_holt_linear" ->
      // Sequential Holt recurrence (α = β = ½) as a recursive CTE —
      // the SAME spelled arithmetic as the Spark ordered fold, so the
      // hash gate pins the op-for-op sequence, not just the answer.
      """WITH RECURSIVE daily AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('day', o_orderdate)::DATE AS day,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
           FROM orders GROUP BY 1, 2),
         seq AS (SELECT priority, cents,
                        row_number() OVER (PARTITION BY priority
                                           ORDER BY day) AS rn
                 FROM daily),
         mx AS (SELECT priority, max(rn) AS n_days FROM seq GROUP BY 1),
         rec AS (
           SELECT priority, rn, CAST(cents AS DOUBLE) AS l,
                  CAST(0.0 AS DOUBLE) AS b
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT s.priority, s.rn,
                  0.5 * CAST(s.cents AS DOUBLE) + 0.5 * (r.l + r.b),
                  0.5 * ((0.5 * CAST(s.cents AS DOUBLE)
                          + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
           FROM rec r JOIN seq s
                ON s.priority = r.priority AND s.rn = r.rn + 1)
         SELECT r.priority, CAST(m.n_days AS BIGINT) AS n_days,
                (round(r.l / 100.0, 4) + 0.0) AS level_rev,
                (round(r.b / 100.0, 4) + 0.0) AS trend_rev,
                (round((r.l + 7.0 * r.b) / 100.0, 4) + 0.0) AS forecast7_rev
         FROM rec r JOIN mx m
              ON r.priority = m.priority AND r.rn = m.n_days
         ORDER BY r.priority""",
    "q_burstiness" ->
      // Fano factor over OBSERVED days; variance and F integer until
      // one terminal division each.
      """WITH daily AS (SELECT event_type,
                               CAST(date_trunc('day', ts::TIMESTAMP) AS DATE)
                                 AS day,
                               count(*) AS c
                        FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, count(*) AS n_days,
                      CAST(sum(c) AS BIGINT) AS s1,
                      CAST(sum(c * c) AS BIGINT) AS s2
               FROM daily GROUP BY 1)
         SELECT event_type, n_days,
                (round(CAST(s1 AS DOUBLE) / n_days, 4) + 0.0) AS mean_daily,
                (round(CAST(n_days * s2 - s1 * s1 AS DOUBLE) / n_days
                       / n_days, 4) + 0.0) AS var_daily,
                (round(CAST(n_days * s2 - s1 * s1 AS DOUBLE) /
                       (n_days * s1), 4) + 0.0) AS fano
         FROM t ORDER BY event_type""",
    "q_user_entropy" ->
      // H = ln(n) − (Σ c·ln c)/n with the Σ folded in sorted order on
      // both engines (list_sort + list_reduce ≙ sort_array + aggregate).
      """WITH c AS (SELECT user_id, event_type, count(*) AS c
                    FROM events GROUP BY 1, 2),
         u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                      count(*) AS k,
                      list_sort(list(CAST(c AS DOUBLE))) AS cs
               FROM c GROUP BY 1)
         SELECT user_id, n AS n_events, k AS n_types,
                (round(ln(CAST(n AS DOUBLE)) -
                       list_reduce(list_transform(cs, x -> x * ln(x)),
                                   (a, b) -> a + b) / n, 4) + 0.0)
                  AS entropy
         FROM u ORDER BY user_id""",
    "q_heaps_law" ->
      // ln V = ln k + β·ln T OLS over the 10 epoch cumulative points;
      // sufficient sums fold in epoch order (list ORDER BY ≙ the Spark
      // sorted-struct aggregate fold).
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            ep AS (SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS epoch
                   FROM documents),
            ng AS (SELECT doc_id,
                          list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                            AS ngs
                   FROM base),
            nz AS (SELECT doc_id, ngs FROM ng WHERE len(ngs) > 0),
            ex AS (SELECT doc_id, unnest(ngs) AS g FROM nz),
            firsts AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY 1),
            novel AS (SELECT first_doc AS doc_id,
                             CAST(count(*) AS BIGINT) AS novel
                      FROM firsts GROUP BY 1),
            occ AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex
                    GROUP BY 1),
            bye AS (SELECT epoch,
                           CAST(coalesce(sum(o.n), 0) AS BIGINT) AS n_grams,
                           CAST(coalesce(sum(v.novel), 0) AS BIGINT)
                             AS novel_grams
                    FROM ep LEFT JOIN occ o USING (doc_id)
                            LEFT JOIN novel v USING (doc_id)
                    GROUP BY 1),
            cums AS (SELECT epoch,
                            CAST(sum(n_grams) OVER w AS BIGINT) AS grams_cum,
                            CAST(sum(novel_grams) OVER w AS BIGINT)
                              AS vocab_cum
                     FROM bye
                     WINDOW w AS (ORDER BY epoch ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW)),
            pts AS (SELECT epoch, grams_cum, vocab_cum,
                           (grams_cum > 0 AND vocab_cum > 0) AS valid,
                           ln(CAST(grams_cum AS DOUBLE)) AS x,
                           ln(CAST(vocab_cum AS DOUBLE)) AS y
                    FROM cums),
            ag AS (SELECT CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_epochs,
                          CAST(max(grams_cum) FILTER (WHERE valid)
                               AS BIGINT) AS grams_final,
                          CAST(max(vocab_cum) FILTER (WHERE valid)
                               AS BIGINT) AS vocab_final,
                          list(x ORDER BY epoch) FILTER (WHERE valid) AS xs,
                          list(y ORDER BY epoch) FILTER (WHERE valid) AS ys,
                          list(x * y ORDER BY epoch) FILTER (WHERE valid)
                            AS xys
                   FROM pts),
            st AS (SELECT n_epochs, grams_final, vocab_final,
                          list_reduce(xs, (a, b) -> a + b) AS sx,
                          list_reduce(ys, (a, b) -> a + b) AS sy,
                          list_reduce(list_transform(xs, x -> x * x),
                                      (a, b) -> a + b) AS sxx,
                          list_reduce(xys, (a, b) -> a + b) AS sxy
                   FROM ag)
         SELECT n_epochs, grams_final, vocab_final,
                (round((CAST(n_epochs AS DOUBLE) * sxy - sx * sy) /
                       (CAST(n_epochs AS DOUBLE) * sxx - sx * sx), 4)
                 + 0.0) AS beta,
                (round(exp((sy - ((CAST(n_epochs AS DOUBLE) * sxy - sx * sy) /
                                  (CAST(n_epochs AS DOUBLE) * sxx - sx * sx))
                                 * sx) / CAST(n_epochs AS DOUBLE)), 4) + 0.0)
                  AS k_coef
         FROM st ORDER BY n_epochs""",
    "q_sample_balanced" ->
      // Equal classes: cap every lang at the smallest lang's size;
      // membership = smallest md5-hash prefix per class (reproducible).
      """WITH k AS (SELECT lang, doc_id,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             ::BIGINT AS hkey
                    FROM documents),
            t AS (SELECT CAST(min(n) AS BIGINT) AS n_per_class
                  FROM (SELECT lang, count(*) AS n FROM k GROUP BY 1)),
            r AS (SELECT lang, doc_id, hkey,
                         row_number() OVER (PARTITION BY lang
                           ORDER BY hkey, doc_id) AS rk
                  FROM k)
         SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, hkey, n_per_class
         FROM r, t WHERE rk <= n_per_class ORDER BY lang, rk""",
    "q_join_asof_tol" ->
      // joinAsofStream's merge pass + the 1-hour staleness cutoff;
      // stale matches null out, every purchase row survives.
      """WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS tsu
                    FROM events WHERE event_type = 'purchase'),
            c AS (SELECT event_id, user_id, ts::TIMESTAMP AS tsu
                  FROM events WHERE event_type = 'click'),
            u AS (SELECT user_id, tsu, 0 AS side, event_id,
                         NULL::BIGINT AS click_id, NULL::BIGINT AS c_us
                  FROM p
                  UNION ALL
                  SELECT user_id, tsu, 1, NULL::BIGINT, event_id,
                         epoch_us(tsu)
                  FROM c),
            w AS (SELECT *,
                         last_value(click_id IGNORE NULLS) OVER win
                           AS prev_click,
                         last_value(c_us IGNORE NULLS) OVER win AS prev_us
                  FROM u
                  WINDOW win AS (PARTITION BY user_id
                    ORDER BY tsu, side, coalesce(click_id, event_id)
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            g AS (SELECT event_id, user_id,
                         epoch_us(tsu) - prev_us AS gap_us, prev_click
                  FROM w WHERE side = 0)
         SELECT event_id, user_id,
                CASE WHEN gap_us <= 3600000000 THEN prev_click END
                  AS click_id,
                CASE WHEN gap_us <= 3600000000 THEN gap_us END AS gap_us
         FROM g ORDER BY event_id""",
    "q_ann_recall" ->
      // recall@3 of the sign-LSH index vs exact top-3: the oracle
      // recomputes BOTH rankings (the q_similarity_topk and
      // q_similarity_lsh blocks verbatim) and joins them.
      """WITH em AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM em WHERE vec_id < 10),
            sims AS (SELECT q_id, vec_id AS n_id,
                            (round(list_dot_product(qv, v) /
                                  (sqrt(list_dot_product(qv, qv)) *
                                   sqrt(list_dot_product(v, v))), 4) + 0.0)
                              AS sim
                     FROM em, q WHERE vec_id <> q_id),
            exact AS (SELECT q_id, n_id FROM
                        (SELECT q_id, n_id,
                                row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, n_id) AS rn
                         FROM sims) t
                      WHERE rn <= 3),
            tb AS (SELECT vec_id, t,
                          (CASE WHEN v[CAST(t*4+1 AS INT)] > 0 THEN 1 ELSE 0 END +
                           CASE WHEN v[CAST(t*4+2 AS INT)] > 0 THEN 2 ELSE 0 END +
                           CASE WHEN v[CAST(t*4+3 AS INT)] > 0 THEN 4 ELSE 0 END +
                           CASE WHEN v[CAST(t*4+4 AS INT)] > 0 THEN 8 ELSE 0 END)
                            AS bucket
                   FROM em, range(0, 8) r(t)),
            lq AS (SELECT vec_id AS q_id, t AS qt, bucket AS qbk
                   FROM tb WHERE vec_id < 10),
            cand AS (SELECT DISTINCT lq.q_id, tb.vec_id AS n_id
                     FROM tb JOIN lq ON tb.t = qt AND tb.bucket = qbk
                                    AND tb.vec_id <> lq.q_id),
            lsims AS (SELECT cand.q_id, cand.n_id,
                             (round(list_dot_product(qe.v, ne.v) /
                                   (sqrt(list_dot_product(qe.v, qe.v)) *
                                    sqrt(list_dot_product(ne.v, ne.v))), 4)
                              + 0.0) AS sim
                      FROM cand JOIN em qe ON qe.vec_id = cand.q_id
                                JOIN em ne ON ne.vec_id = cand.n_id),
            lsh AS (SELECT q_id, n_id FROM
                      (SELECT q_id, n_id,
                              row_number() OVER (PARTITION BY q_id
                                ORDER BY sim DESC, n_id) AS rn
                       FROM lsims) t
                    WHERE rn <= 3),
            hits AS (SELECT e.q_id, count(*) AS n_hits
                     FROM exact e JOIN lsh l
                          ON e.q_id = l.q_id AND e.n_id = l.n_id
                     GROUP BY 1),
            base AS (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY 1)
         SELECT b.q_id, CAST(n_exact AS BIGINT) AS n_exact,
                CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
                (round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 4)
                 + 0.0) AS recall
         FROM base b LEFT JOIN hits h ON b.q_id = h.q_id
         ORDER BY b.q_id""",
  )
}
