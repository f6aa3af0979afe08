package graft.oracle

/** DuckDB oracle SQL, part 3/5 of the split registry (r12 verdict ask
  * #7 — SparkEntry.scala had grown past 6,000 lines): entries q_agg_incremental
  * … q_calibration, in the original registration order, concatenated back
  * into `SparkEntry.oracleSql`. Contents are byte-identical to the
  * pre-split map (the Verify/DuckDB hash gate is the proof). */
private[graft] object OracleSql3 {
  val m: Map[String, String] = Map(
    "q_agg_incremental" ->
      """WITH agg AS (
           SELECT ts::TIMESTAMP::DATE AS day, event_type,
                  count(*) AS n_events,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
           FROM events GROUP BY 1, 2)
         SELECT day, event_type, n_events,
                CAST(c AS DOUBLE)/100.0 AS total_value,
                CAST((20000*c + 100*n_events) // (200*n_events) AS DOUBLE)/10000.0
                  AS avg_value
         FROM agg ORDER BY day, event_type""",
    "q_join_salted" ->
      """SELECT c_mktsegment, (round(sum(o_totalprice), 4) + 0.0) AS revenue,
                count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q_schema_drift" ->
      """WITH e AS (SELECT *,
                           ts::TIMESTAMP < TIMESTAMP '2024-01-21 00:00:00' AS pre
                    FROM events),
            w AS (SELECT
                    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
                    CAST(sum(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_post,
                    count(CASE WHEN pre THEN user_id END) AS nn_pre_user_id,
                    count(CASE WHEN NOT pre THEN user_id END) AS nn_post_user_id,
                    count(DISTINCT CASE WHEN pre THEN user_id END) AS nd_pre_user_id,
                    count(DISTINCT CASE WHEN NOT pre THEN user_id END)
                      AS nd_post_user_id,
                    count(CASE WHEN pre THEN event_type END) AS nn_pre_event_type,
                    count(CASE WHEN NOT pre THEN event_type END)
                      AS nn_post_event_type,
                    count(DISTINCT CASE WHEN pre THEN event_type END)
                      AS nd_pre_event_type,
                    count(DISTINCT CASE WHEN NOT pre THEN event_type END)
                      AS nd_post_event_type,
                    count(CASE WHEN pre THEN value END) AS nn_pre_value,
                    count(CASE WHEN NOT pre THEN value END) AS nn_post_value,
                    count(DISTINCT CASE WHEN pre THEN value END) AS nd_pre_value,
                    count(DISTINCT CASE WHEN NOT pre THEN value END)
                      AS nd_post_value,
                    count(CASE WHEN pre THEN props END) AS nn_pre_props,
                    count(CASE WHEN NOT pre THEN props END) AS nn_post_props,
                    count(DISTINCT CASE WHEN pre THEN props END) AS nd_pre_props,
                    count(DISTINCT CASE WHEN NOT pre THEN props END)
                      AS nd_post_props
                  FROM e)
         SELECT 'user_id' AS column_name,
                n_pre - nn_pre_user_id AS nulls_pre,
                n_post - nn_post_user_id AS nulls_post,
                nd_pre_user_id AS nd_pre, nd_post_user_id AS nd_post,
                (round(CAST(n_post - nn_post_user_id AS DOUBLE)/n_post -
                      CAST(n_pre - nn_pre_user_id AS DOUBLE)/n_pre, 4) + 0.0)
                  AS null_rate_delta FROM w
         UNION ALL SELECT 'event_type', n_pre - nn_pre_event_type,
                n_post - nn_post_event_type, nd_pre_event_type,
                nd_post_event_type,
                (round(CAST(n_post - nn_post_event_type AS DOUBLE)/n_post -
                      CAST(n_pre - nn_pre_event_type AS DOUBLE)/n_pre, 4) + 0.0) FROM w
         UNION ALL SELECT 'value', n_pre - nn_pre_value, n_post - nn_post_value,
                nd_pre_value, nd_post_value,
                (round(CAST(n_post - nn_post_value AS DOUBLE)/n_post -
                      CAST(n_pre - nn_pre_value AS DOUBLE)/n_pre, 4) + 0.0) FROM w
         UNION ALL SELECT 'props', n_pre - nn_pre_props, n_post - nn_post_props,
                nd_pre_props, nd_post_props,
                (round(CAST(n_post - nn_post_props AS DOUBLE)/n_post -
                      CAST(n_pre - nn_pre_props AS DOUBLE)/n_pre, 4) + 0.0) FROM w
         ORDER BY column_name""",
    "q_cluster_embed" ->
      """WITH RECURSIVE
            em AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings),
            p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
                  FROM em a JOIN em b
                    ON a.label = b.label AND a.vec_id < b.vec_id
                  WHERE (round(list_dot_product(a.v, b.v) /
                              (sqrt(list_dot_product(a.v, a.v)) *
                               sqrt(list_dot_product(b.v, b.v))), 4) + 0.0) >= 0.35),
            edges AS (SELECT d1 AS a, d2 AS b FROM p
                      UNION ALL SELECT d2, d1 FROM p),
            reach AS (SELECT vec_id AS v, vec_id AS r FROM embeddings
                      UNION
                      SELECT e.b AS v, reach.r AS r
                      FROM reach JOIN edges e ON e.a = reach.v),
            comp AS (SELECT v AS vec_id, min(r) AS cluster
                     FROM reach GROUP BY 1),
            sizes AS (SELECT cluster, count(*) AS cluster_size
                      FROM comp GROUP BY 1)
         SELECT c.vec_id, e.label, c.cluster,
                CAST(s.cluster_size AS BIGINT) AS cluster_size
         FROM comp c JOIN embeddings e ON c.vec_id = e.vec_id
         JOIN sizes s ON c.cluster = s.cluster
         ORDER BY c.vec_id""",
    "q_dedup_semantic" ->
      // Same clustering CTEs as q_cluster_embed, aggregated to the
      // per-label dedup report: survivors = distinct clusters (the
      // cluster id is the min-vec_id representative).
      """WITH RECURSIVE
            em AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings),
            p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
                  FROM em a JOIN em b
                    ON a.label = b.label AND a.vec_id < b.vec_id
                  WHERE (round(list_dot_product(a.v, b.v) /
                              (sqrt(list_dot_product(a.v, a.v)) *
                               sqrt(list_dot_product(b.v, b.v))), 4) + 0.0) >= 0.35),
            edges AS (SELECT d1 AS a, d2 AS b FROM p
                      UNION ALL SELECT d2, d1 FROM p),
            reach AS (SELECT vec_id AS v, vec_id AS r FROM embeddings
                      UNION
                      SELECT e.b AS v, reach.r AS r
                      FROM reach JOIN edges e ON e.a = reach.v),
            comp AS (SELECT v AS vec_id, min(r) AS cluster
                     FROM reach GROUP BY 1)
         SELECT e.label, count(*) AS n_vectors,
                CAST(count(DISTINCT c.cluster) AS BIGINT) AS n_kept,
                CAST(count(*) - count(DISTINCT c.cluster) AS BIGINT)
                  AS n_dropped,
                (round((count(*) - count(DISTINCT c.cluster))::DOUBLE
                      / count(*), 4) + 0.0) AS reduction
         FROM comp c JOIN embeddings e ON c.vec_id = e.vec_id
         GROUP BY 1 ORDER BY e.label""",
    "q_lm_score" ->
      """WITH toks AS (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS tok
                      FROM documents),
            t AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
            tf AS (SELECT tok, count(*) AS tf FROM t GROUP BY 1),
            tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total,
                           greatest(2, CAST(ceil(sum(tf) * 1e-7) AS BIGINT))
                             AS thr
                    FROM tf),
            v AS (SELECT tok, tf FROM tf CROSS JOIN tot WHERE tf >= thr)
         SELECT doc_id, count(*) AS n_tokens,
                (round(avg(-ln(coalesce(tf, thr) / total)), 4) + 0.0) AS avg_neg_logp
         FROM t LEFT JOIN v USING (tok) CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id""",
    "q_pack_sequences" ->
      """WITH d AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT)
                             AS n_tokens,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             ::BIGINT % 8 AS shard
                    FROM documents),
            c AS (SELECT shard, doc_id, n_tokens,
                         CAST(sum(n_tokens) OVER (PARTITION BY shard
                                                  ORDER BY doc_id) AS BIGINT)
                           AS cum
                  FROM d)
         SELECT shard, (cum - n_tokens) // 2048 AS bin,
                count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS tokens,
                (round(CAST(sum(n_tokens) AS DOUBLE) / 2048.0, 4) + 0.0) AS fill
         FROM c GROUP BY 1, 2 ORDER BY shard, bin""",
    "q_join_asof_fwd" ->
      """WITH c AS (SELECT event_id, user_id, ts::TIMESTAMP AS tsu
                    FROM events WHERE event_type = 'click'),
            p AS (SELECT event_id, user_id, ts::TIMESTAMP AS tsu
                  FROM events WHERE event_type = 'purchase'),
            u AS (SELECT user_id, tsu, 0 AS side, NULL::BIGINT AS event_id,
                         event_id AS click_id FROM c
                  UNION ALL
                  SELECT user_id, tsu, 1, event_id, NULL::BIGINT FROM p),
            w AS (SELECT *, first_value(click_id IGNORE NULLS) OVER
                    (PARTITION BY user_id
                     ORDER BY tsu, side, coalesce(click_id, event_id)
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                    AS next_click
                  FROM u)
         SELECT event_id, user_id, next_click
         FROM w WHERE side = 1 ORDER BY event_id""",
    "q_debounce" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec
                    FROM events),
            f AS (SELECT *, lag(ts_sec, 1) OVER
                    (PARTITION BY user_id, event_type
                     ORDER BY ts_sec, event_id) AS prev_sec
                  FROM e)
         SELECT event_type,
                CAST(sum(CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 5
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 5
                              THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         FROM f GROUP BY 1 ORDER BY 1""",
    "q_seasonality" ->
      """SELECT ((epoch_us(ts::TIMESTAMP)//1000000//86400 + 3) % 7 + 1) AS dow_iso,
                (epoch_us(ts::TIMESTAMP)//1000000//3600) % 24 AS hour_utc,
                count(*) AS n_events,
                (round(sum(value), 4) + 0.0) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_changepoint" ->
      """WITH daily AS (SELECT epoch_us(ts::TIMESTAMP)//1000000//86400 AS day_num,
                              count(*) AS n_events
                       FROM events GROUP BY 1),
            tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total,
                           CAST(count(*) AS BIGINT) AS n_days FROM daily),
            cu AS (SELECT day_num, n_events,
                          CAST(row_number() OVER (ORDER BY day_num) AS BIGINT) AS t,
                          CAST(sum(n_events) OVER
                            (ORDER BY day_num
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS prefix
                   FROM daily)
         SELECT day_num, n_events,
                (round((n_days * prefix - t * total)::DOUBLE / n_days, 4) + 0.0)
                  AS cusum
         FROM cu, tot ORDER BY day_num""",
    "q_cuped" ->
      """WITH b AS (SELECT min(epoch_us(ts::TIMESTAMP)//1000000) AS mn,
                           max(epoch_us(ts::TIMESTAMP)//1000000) AS mx FROM events),
            u AS (SELECT user_id,
                         CAST(sum(CASE WHEN epoch_us(ts::TIMESTAMP)//1000000
                                            < (mn + mx)//2
                                       THEN CAST(round(value*100) AS BIGINT)
                                       ELSE 0 END) AS BIGINT) AS x,
                         CAST(sum(CASE WHEN epoch_us(ts::TIMESTAMP)//1000000
                                            >= (mn + mx)//2
                                       THEN CAST(round(value*100) AS BIGINT)
                                       ELSE 0 END) AS BIGINT) AS y,
                         CAST(user_id % 2 AS INT) AS arm
                  FROM events, b GROUP BY user_id),
            m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x*y) AS BIGINT) AS sxy,
                         CAST(sum(x*x) AS BIGINT) AS sxx,
                         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                         CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
                         CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
                         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                         CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
                         CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0
                  FROM u),
            c AS (SELECT *,
                         (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n) / n AS covxy,
                         (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n) / n AS varx
                  FROM m),
            t AS (SELECT *,
                         CASE WHEN varx = 0.0 THEN NULL
                              ELSE covxy / varx END AS theta,
                         sy1::DOUBLE / n1 - sy0::DOUBLE / n0 AS diff_naive
                  FROM c)
         SELECT n, n1, n0, (round(theta, 4) + 0.0) AS theta,
                (round(diff_naive / 100.0, 4) + 0.0) AS diff_naive,
                (round((diff_naive - theta * (sx1::DOUBLE / n1 - sx0::DOUBLE / n0))
                       / 100.0, 4) + 0.0) AS diff_cuped
         FROM t""",
    "q_landing_bounce" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
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
                     FROM g),
            rk AS (SELECT user_id, sid, event_type,
                          row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY tsu, event_id) AS rn,
                          count(*) OVER (PARTITION BY user_id, sid) AS n_events
                   FROM sids),
            per AS (SELECT user_id, sid, event_type AS landing_type, n_events
                    FROM rk WHERE rn = 1)
         SELECT landing_type, count(*) AS n_sessions,
                CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bounces,
                (round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
                       / count(*), 4) + 0.0) AS bounce_rate
         FROM per GROUP BY 1 ORDER BY 1""",
    "q_cume_dist" ->
      """WITH spend AS (SELECT c_custkey, c_mktsegment,
                               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                    AS BIGINT) AS cents
                        FROM orders JOIN customer ON o_custkey = c_custkey
                        GROUP BY 1, 2)
         SELECT c_custkey, c_mktsegment,
                (round(cents / 100.0, 4) + 0.0) AS spend,
                (round(cume_dist() OVER
                   (PARTITION BY c_mktsegment ORDER BY cents), 4) + 0.0) AS cd,
                (round(percent_rank() OVER
                   (PARTITION BY c_mktsegment ORDER BY cents), 4) + 0.0) AS pr
         FROM spend ORDER BY c_custkey""",
    "q_containment" ->
      """WITH base AS (SELECT doc_id, lang, source,
                              string_split(text, ' ') AS toks FROM documents),
            ng AS (SELECT doc_id, lang, source,
                          list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngs
                   FROM base),
            nz AS (SELECT doc_id, lang, source, ngs
                   FROM ng WHERE len(ngs) > 0),
            ex0 AS (SELECT doc_id, lang, source, unnest(ngs) AS g FROM nz),
            df AS (SELECT g, count(*) AS df FROM ex0 GROUP BY 1),
            ex AS (SELECT ex0.* FROM ex0 JOIN df USING (g) WHERE df <= 100),
            sz AS (SELECT doc_id, count(*) AS nsz FROM ex GROUP BY 1),
            inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                             count(*) AS inter
                      FROM ex a JOIN ex b
                        ON a.lang = b.lang AND a.source = b.source
                       AND a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            st AS (SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
                          CAST(s1.nsz AS BIGINT) AS n1,
                          CAST(s2.nsz AS BIGINT) AS n2,
                          (round(CAST(inter AS DOUBLE) / s1.nsz, 4) + 0.0) AS c1_in_2,
                          (round(CAST(inter AS DOUBLE) / s2.nsz, 4) + 0.0) AS c2_in_1
                   FROM inter JOIN sz s1 ON s1.doc_id = d1
                              JOIN sz s2 ON s2.doc_id = d2)
         SELECT d1, d2, inter, n1, n2, c1_in_2, c2_in_1
         FROM st ORDER BY greatest(c1_in_2, c2_in_1) DESC, d1, d2 LIMIT 20""",
    "q_ndcg" ->
      """WITH em AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
                  FROM em WHERE vec_id < 10),
            sims AS (SELECT q_id, q_label, vec_id AS n_id, label AS n_label,
                            (round(list_dot_product(qv, v) /
                                  (sqrt(list_dot_product(qv, qv)) *
                                   sqrt(list_dot_product(v, v))), 4) + 0.0) AS sim
                     FROM em, q WHERE vec_id <> q_id),
            rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, n_id) AS rn
                   FROM sims),
            top AS (SELECT * FROM rk WHERE rn <= 10),
            d AS (SELECT q_id, sum(CASE WHEN n_label = q_label
                                        THEN 1.0 / log2(rn + 1)
                                        ELSE 0.0 END) AS dcg
                  FROM top GROUP BY 1),
            lc AS (SELECT label, count(*) AS cnt FROM em GROUP BY 1),
            nr AS (SELECT q_id, CAST(cnt - 1 AS BIGINT) AS n_rel
                   FROM q JOIN lc ON q_label = label),
            icum AS (SELECT k, sum(1.0 / log2(i + 1)) AS idcg
                     FROM range(1, 11) r1(k), range(1, 11) r2(i)
                     WHERE i <= k GROUP BY 1)
         SELECT nr.q_id, nr.n_rel, (round(d.dcg, 4) + 0.0) AS dcg,
                CASE WHEN nr.n_rel = 0 THEN 0.0
                     ELSE (round(d.dcg / icum.idcg, 4) + 0.0) END AS ndcg
         FROM nr JOIN d ON d.q_id = nr.q_id
         LEFT JOIN icum ON icum.k = least(nr.n_rel, 10)
         ORDER BY nr.q_id""",
    "q_subquery_correlated" ->
      """WITH spend AS (SELECT c_custkey, c_nationkey,
                               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                    AS BIGINT) AS cents
                        FROM orders JOIN customer ON o_custkey = c_custkey
                        GROUP BY 1, 2)
         SELECT s.c_custkey, n.n_name,
                (round(s.cents / 100.0, 4) + 0.0) AS spend,
                (round((SELECT sum(t.cents)::DOUBLE / count(*) FROM spend t
                        WHERE t.c_nationkey = s.c_nationkey) / 100.0, 4) + 0.0)
                  AS nation_avg
         FROM spend s JOIN nation n ON s.c_nationkey = n.n_nationkey
         WHERE s.cents * (SELECT count(*) FROM spend t
                          WHERE t.c_nationkey = s.c_nationkey)
               > (SELECT sum(t.cents) FROM spend t
                  WHERE t.c_nationkey = s.c_nationkey)
         ORDER BY s.c_custkey""",
    "q_topk_stream" ->
      """WITH c AS (SELECT (epoch_us(ts::TIMESTAMP)//1000000//21600) * 21600
                             AS win_sec,
                           event_type, count(*) AS n
                    FROM events GROUP BY 1, 2),
            rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY win_sec
                     ORDER BY n DESC, event_type) AS INT) AS rn
                   FROM c)
         SELECT win_sec, rn, event_type, n
         FROM rk WHERE rn <= 3 ORDER BY win_sec, rn""",
    "q_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
            v AS (SELECT user_id,
                         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                              THEN 'A' ELSE 'B' END AS variant
                  FROM u),
            a AS (SELECT
                    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
                  FROM v),
            c AS (SELECT n_a, n_b,
                         (round(((n_a - n_b) * (n_a - n_b))::DOUBLE / (n_a + n_b), 4)
                          + 0.0) AS chi2
                  FROM a)
         SELECT n_a, n_b, chi2,
                CASE WHEN chi2 > 3.8415 THEN 1 ELSE 0 END AS srm_flag
         FROM c""",
    "q_quantize_embed" ->
      """WITH em AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            mx AS (SELECT vec_id, v,
                          list_max(list_transform(v, x -> abs(x))) AS maxabs
                   FROM em),
            sc AS (SELECT vec_id, v, 127.0 / maxabs AS scale
                   FROM mx WHERE maxabs > 0)
         SELECT vec_id, (round(scale, 4) + 0.0) AS scale,
                CAST(list_sum(list_transform(v, x ->
                       CASE WHEN abs(round(x * scale)) >= 127 THEN 1 ELSE 0 END))
                     AS BIGINT) AS n_sat,
                (round(list_sum(list_transform(v, x ->
                         pow(x - round(x * scale) / scale, 2))) / len(v), 4)
                 + 0.0) AS mse
         FROM sc ORDER BY vec_id""",
    "q_graph_jaccard" ->
      // `edges` is MATERIALIZED: DuckDB 1.0 inlines a plain CTE at
      // every reference, and at sf0.1 that plan's temp files pass the
      // oracle's temp-space cap; the result is unchanged
      """WITH edges AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst
                        FROM lineitem l
                        JOIN orders o ON l.l_orderkey = o.o_orderkey
                        JOIN customer c ON o.o_custkey = c.c_custkey
                        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        GROUP BY 1, 2),
            und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM edges WHERE src <> dst),
            adj AS (SELECT a AS v, b AS n FROM und
                    UNION ALL SELECT b, a FROM und),
            deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
            common AS (SELECT l.v AS u, r.v AS w, count(*) AS common
                       FROM adj l JOIN adj r ON l.n = r.n AND l.v < r.v
                       GROUP BY 1, 2)
         SELECT u, w, CAST(common AS BIGINT) AS common,
                CAST(du.deg AS BIGINT) AS du, CAST(dw.deg AS BIGINT) AS dw,
                (round(CAST(common AS DOUBLE) / (du.deg + dw.deg - common), 4)
                 + 0.0) AS jaccard
         FROM common JOIN deg du ON du.v = u JOIN deg dw ON dw.v = w
         ORDER BY u, w""",
    "q_sliding_stream" ->
      """WITH w0 AS (SELECT (epoch_us(ts::TIMESTAMP)//1000000)//1800*1800 AS w_start,
                            event_type, value FROM events),
            both_w AS (SELECT w_start, event_type, value FROM w0
                       UNION ALL
                       SELECT w_start - 1800, event_type, value FROM w0)
         SELECT w_start, event_type, count(*) AS n, (round(sum(value), 4) + 0.0) AS val
         FROM both_w GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_matryoshka" ->
      """WITH em AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            (embedding::DOUBLE[])[1:16] AS v16 FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv, v16 AS qv16
                  FROM em WHERE vec_id < 10),
            sf AS (SELECT q_id, vec_id AS n_id,
                          (round(list_dot_product(qv, v) /
                                (sqrt(list_dot_product(qv, qv)) *
                                 sqrt(list_dot_product(v, v))), 4) + 0.0) AS sim
                   FROM em, q WHERE vec_id <> q_id),
            rf AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, n_id) AS rn FROM sf),
            st AS (SELECT q_id, vec_id AS n_id,
                          (round(list_dot_product(qv16, v16) /
                                (sqrt(list_dot_product(qv16, qv16)) *
                                 sqrt(list_dot_product(v16, v16))), 4) + 0.0) AS sim
                   FROM em, q WHERE vec_id <> q_id),
            rt AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, n_id) AS rn FROM st),
            ov AS (SELECT f.q_id, count(*) AS n_overlap
                   FROM (SELECT q_id, n_id FROM rf WHERE rn <= 5) f
                   JOIN (SELECT q_id, n_id FROM rt WHERE rn <= 5) t
                     USING (q_id, n_id)
                   GROUP BY 1)
         SELECT q.q_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
                (round(coalesce(ov.n_overlap, 0)::DOUBLE / 5.0, 4) + 0.0) AS recall
         FROM q LEFT JOIN ov ON ov.q_id = q.q_id ORDER BY q.q_id""",
    "q_freshness" ->
      """WITH t AS (SELECT event_type, count(*) AS n_events,
                           max(epoch_us(ts::TIMESTAMP)//1000000) AS last_sec
                    FROM events GROUP BY 1),
            h AS (SELECT max(last_sec) AS hwm FROM t)
         SELECT event_type, n_events, last_sec,
                (hwm - last_sec) AS lag_sec,
                CASE WHEN hwm - last_sec > 86400 THEN 1 ELSE 0 END AS stale
         FROM t, h ORDER BY event_type""",
    "q_bucket_skew" ->
      """WITH b AS (SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 32
                               AS INT) AS bucket FROM events),
            per AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM per)
         SELECT bucket, n, (round(n::DOUBLE * 32.0 / total, 4) + 0.0) AS load
         FROM per, t ORDER BY bucket""",
    "q_ks_test" ->
      """WITH u AS (SELECT user_id,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                           CAST(user_id % 2 AS INT) AS arm
                    FROM events GROUP BY user_id),
            bv AS (SELECT cents,
                          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
                   FROM u GROUP BY 1),
            t AS (SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
                  FROM u),
            cum AS (SELECT cents,
                           CAST(sum(ca) OVER (ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS BIGINT) AS cuma,
                           CAST(sum(cb) OVER (ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS BIGINT) AS cumb
                    FROM bv),
            m AS (SELECT max(abs(cuma * nb - cumb * na)) AS num FROM cum, t)
         SELECT na, nb,
                (round(num::DOUBLE / (na * nb), 4) + 0.0) AS ks_d,
                (round(1.358 * sqrt((na + nb)::DOUBLE / (na * nb)), 4) + 0.0)
                  AS crit_05,
                CASE WHEN (round(num::DOUBLE / (na * nb), 4) + 0.0) >
                          (round(1.358 * sqrt((na + nb)::DOUBLE / (na * nb)), 4) + 0.0)
                     THEN 1 ELSE 0 END AS reject
         FROM m, t""",
    "q_gini" ->
      """WITH spend AS (SELECT o_custkey,
                               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                    AS BIGINT) AS cents
                        FROM orders GROUP BY 1),
            rk AS (SELECT cents,
                          CAST(row_number() OVER (ORDER BY cents, o_custkey)
                               AS BIGINT) AS i
                   FROM spend),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(cents) AS BIGINT) AS t,
                         CAST(sum(i * cents) AS BIGINT) AS s
                  FROM rk)
         SELECT n, (round(t / 100.0, 4) + 0.0) AS total_spend,
                (round((2 * s - (n + 1) * t)::DOUBLE / (n * t), 4) + 0.0) AS gini
         FROM a""",
    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                  AS VARCHAR), 1, 1) AS INT) AS digit
                    FROM orders),
            t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
         SELECT digit, count(*) AS n,
                (round(count(*)::DOUBLE / total, 4) + 0.0) AS obs_freq,
                (round(log10(1.0 + 1.0 / digit), 4) + 0.0) AS benford_freq
         FROM d, t GROUP BY digit, total ORDER BY digit""",
    "q_outer_join_stream" ->
      """WITH c AS (SELECT user_id AS c_user, epoch_us(ts::TIMESTAMP) AS c_us,
                           event_id AS click_id
                    FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS p_us,
                         event_id AS purchase_id, value
                  FROM events WHERE event_type = 'purchase')
         SELECT purchase_id, coalesce(click_id, -1) AS click_id, user_id,
                p_us, coalesce(c_us, -1) AS c_us, value
         FROM p LEFT JOIN c ON user_id = c_user
           AND c_us <= p_us AND c_us >= p_us - 3600000000
         ORDER BY purchase_id, click_id""",
    "q_mann_whitney" ->
      // rank computation is pure int64: 2·avg-rank = 2·cum_before + t + 1
      """WITH u AS (SELECT user_id,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                           CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                                THEN 1 ELSE 0 END AS arm
                    FROM events GROUP BY user_id),
            bv AS (SELECT cents,
                          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
                   FROM u GROUP BY 1),
            tt AS (SELECT CAST(sum(arm) AS BIGINT) AS na,
                          CAST(sum(1 - arm) AS BIGINT) AS nb
                   FROM u),
            c2 AS (SELECT cents, ca, cb, (ca + cb) AS t,
                          CAST(sum(ca + cb) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS cum
                   FROM bv),
            r AS (SELECT CAST(sum(ca * (2 * (cum - t) + t + 1)) AS BIGINT) AS r2a,
                         CAST(sum(t * t * t - t) AS BIGINT) AS ties
                  FROM c2),
            s AS (SELECT na, nb, na + nb AS n,
                         r2a - na * (na + 1) AS u2, ties
                  FROM r, tt),
            zz AS (SELECT na, nb, u2,
                          (u2 - na * nb)::DOUBLE /
                          (2.0 * sqrt(na::DOUBLE * nb / 12.0 *
                            ((n + 1)::DOUBLE - ties::DOUBLE / (n * (n - 1))))) AS z
                   FROM s)
         SELECT na AS n_a, nb AS n_b,
                (round(u2::DOUBLE / 2.0, 4) + 0.0) AS u_a,
                (round(z, 4) + 0.0) AS z,
                CASE WHEN abs(round(z, 4) + 0.0) > 1.96 THEN 1 ELSE 0 END
                  AS significant
         FROM zz""",
    "q_psi" ->
      """WITH ev AS (SELECT epoch_us(ts::TIMESTAMP) AS us, value FROM events),
            b AS (SELECT min(us) AS lo, max(us) AS hi,
                         min(value) AS vlo, max(value) AS vhi
                  FROM ev),
            binned AS (SELECT least(9, CAST(floor((value - vlo) * 10.0 /
                                                  (vhi - vlo)) AS INT)) AS bin,
                              CASE WHEN us < lo + (hi - lo) / 2 THEN 0 ELSE 1 END
                                AS period
                       FROM ev, b),
            g AS (SELECT bin,
                         CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                         CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
                  FROM binned GROUP BY 1),
            t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
                         CAST(sum(n_cur) AS BIGINT) AS tc FROM g),
            rows_ AS (SELECT CAST(r.bin AS INT) AS bin,
                             coalesce(n_ref, 0) AS n_ref,
                             coalesce(n_cur, 0) AS n_cur,
                             greatest(coalesce(n_ref, 0)::DOUBLE / tr, 0.0001) AS p,
                             greatest(coalesce(n_cur, 0)::DOUBLE / tc, 0.0001) AS q
                      FROM range(0, 10) r(bin) LEFT JOIN g ON r.bin = g.bin, t)
         SELECT bin, n_ref, n_cur,
                (round(p, 4) + 0.0) AS p_ref,
                (round(q, 4) + 0.0) AS p_cur,
                (round((q - p) * ln(q / p), 4) + 0.0) AS contrib,
                (round(sum((q - p) * ln(q / p)) OVER (
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                   4) + 0.0) AS psi
         FROM rows_ ORDER BY bin""",
    "q_rolling_median" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                    AS BIGINT) AS cents
                        FROM orders GROUP BY 1)
         SELECT day, (round(cents / 100.0, 4) + 0.0) AS revenue,
                (round(quantile_cont(cents, 0.5) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 4) + 0.0)
                  AS med7
         FROM daily ORDER BY day""",
    "q_outliers_robust" ->
      // The whole fence pipeline runs in exact cent space (quartiles
      // interpolate int cents at dyadic fractions ⇒ exact doubles);
      // only the reported fences divide by 100 and round at the end.
      """WITH li AS (SELECT l_returnflag AS flag,
                            CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                     FROM lineitem),
            f AS (SELECT flag,
                         quantile_cont(c, 0.25) AS q1c,
                         quantile_cont(c, 0.75) AS q3c
                  FROM li GROUP BY 1),
            f2 AS (SELECT flag, q1c - 1.5 * (q3c - q1c) AS loc,
                          q3c + 1.5 * (q3c - q1c) AS hic
                   FROM f)
         SELECT li.flag, CAST(count(*) AS BIGINT) AS n,
                (round(min(loc) / 100.0, 4) + 0.0) AS lo_fence,
                (round(min(hic) / 100.0, 4) + 0.0) AS hi_fence,
                CAST(sum(CASE WHEN c < loc OR c > hic THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_out,
                (round(sum(CASE WHEN c < loc OR c > hic THEN 1 ELSE 0 END)::DOUBLE
                       * 100.0 / count(*), 4) + 0.0) AS out_pct
         FROM li JOIN f2 ON li.flag = f2.flag
         GROUP BY li.flag ORDER BY li.flag""",
    "q_decile_lift" ->
      """WITH sc AS (SELECT c_custkey,
                            CAST(ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
                                 AS INT) AS decile
                     FROM customer),
            sp AS (SELECT o_custkey,
                          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
            j AS (SELECT decile, coalesce(cents, 0) AS cents
                  FROM sc LEFT JOIN sp ON c_custkey = o_custkey),
            bd AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
                          CAST(sum(cents) AS BIGINT) AS cents
                   FROM j GROUP BY 1),
            t AS (SELECT CAST(sum(n_cust) AS BIGINT) AS tn,
                         CAST(sum(cents) AS BIGINT) AS tc FROM bd)
         SELECT decile, n_cust,
                (round(cents::DOUBLE / 100.0, 4) + 0.0) AS spend,
                (round(cents::DOUBLE / n_cust / 100.0, 4) + 0.0) AS avg_spend,
                (round(cents::DOUBLE / tc, 4) + 0.0) AS capture,
                (round(CAST(sum(cents) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / tc, 4) + 0.0) AS cum_capture,
                (round((cents::DOUBLE / n_cust) / (tc::DOUBLE / tn), 4) + 0.0)
                  AS lift
         FROM bd, t ORDER BY decile""",
    "q_fuzzy_join" ->
      """SELECT a.c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
                CAST(min(levenshtein(a.c_name, b.c_name)) AS INT) AS min_dist
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey
          AND a.c_mktsegment = b.c_mktsegment
          AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 2
         GROUP BY 1 ORDER BY 1""",
    "q_dedup_embcos_centered" ->
      // the q_dedup_embcos hash with hyperplanes through the per-corpus
      // component mean; the threshold compare is exact int64
      // cross-multiplication (q_j·n > Σq_j), never a floating mean
      """WITH em AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            nv AS (SELECT (CASE WHEN count(*) <= 4096 THEN 4
                                WHEN count(*) <= 8192 THEN 5
                                WHEN count(*) <= 16384 THEN 6
                                WHEN count(*) <= 32768 THEN 7
                                WHEN count(*) <= 65536 THEN 8
                                WHEN count(*) <= 131072 THEN 9
                                ELSE 10 END) AS pl FROM em),
            mu AS (SELECT i,
                          CAST(sum(CAST(round(v[CAST(i AS INT)] * 1000000)
                                        AS BIGINT)) AS BIGINT) AS s,
                          CAST(count(*) AS BIGINT) AS n
                   FROM em, range(1, 65) r(i) GROUP BY i),
            qs AS (SELECT list(s ORDER BY i) AS qs, min(n) AS n FROM mu),
            tb AS (SELECT label, vec_id, t,
                          CAST(sum(CASE WHEN
                                 CAST(round(v[CAST(((t*pl + j) % 64) + 1 AS INT)]
                                            * 1000000) AS BIGINT) * n
                                   > qs[CAST(((t*pl + j) % 64) + 1 AS INT)]
                                 THEN (1 << j) ELSE 0 END) AS INT) AS bucket
                   FROM em, nv, qs, range(0, 8) r(t), range(0, 10) p(j)
                   WHERE j < pl
                   GROUP BY label, vec_id, t),
            cand AS (SELECT DISTINCT a.label, a.vec_id AS v1, b.vec_id AS v2
                     FROM tb a JOIN tb b ON a.label = b.label AND a.t = b.t
                                        AND a.bucket = b.bucket
                                        AND a.vec_id < b.vec_id)
         SELECT cand.label, v1, v2,
                (round(list_dot_product(e1.v, e2.v) /
                      (sqrt(list_dot_product(e1.v, e1.v)) *
                       sqrt(list_dot_product(e2.v, e2.v))), 4) + 0.0) AS sim
         FROM cand JOIN em e1 ON e1.vec_id = v1
                   JOIN em e2 ON e2.vec_id = v2
         ORDER BY sim DESC, v1, v2 LIMIT 20""",
    "q_enrich_stream" ->
      """WITH d AS (SELECT event_type,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                             AS sc,
                           CAST(count(*) AS BIGINT) AS nt
                    FROM events GROUP BY 1)
         SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS day,
                e.event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN CAST(round(e.value * 100) AS BIGINT) * d.nt > d.sc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above
         FROM events e JOIN d ON e.event_type = d.event_type
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_bucket_purity" ->
      // the q_similarity_lsh hash; majority ties break on smallest label
      """WITH em AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                     FROM embeddings),
            tb AS (SELECT vec_id, label, t,
                          (CASE WHEN v[CAST(t*4+1 AS INT)] > 0 THEN 1 ELSE 0 END +
                           CASE WHEN v[CAST(t*4+2 AS INT)] > 0 THEN 2 ELSE 0 END +
                           CASE WHEN v[CAST(t*4+3 AS INT)] > 0 THEN 4 ELSE 0 END +
                           CASE WHEN v[CAST(t*4+4 AS INT)] > 0 THEN 8 ELSE 0 END) AS bucket
                   FROM em, range(0, 8) r(t)),
            g AS (SELECT CAST(t AS INT) AS t, bucket, label,
                         CAST(count(*) AS BIGINT) AS cnt
                  FROM tb GROUP BY 1, 2, 3),
            rk AS (SELECT t, bucket, label, cnt,
                          CAST(sum(cnt) OVER (PARTITION BY t, bucket) AS BIGINT) AS n,
                          row_number() OVER (PARTITION BY t, bucket
                            ORDER BY cnt DESC, label) AS rn
                   FROM g)
         SELECT t, bucket, n, label AS majority_label, cnt AS n_majority,
                (round(cnt::DOUBLE / n, 4) + 0.0) AS purity
         FROM rk WHERE rn = 1 ORDER BY t, bucket""",
    "q_auc" ->
      // rank identity AUC = (R1 - n1(n1+1)/2)/(n1 n0); same all-int64
      // average-rank machinery as q_mann_whitney
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
            bv AS (SELECT cents,
                          CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
                          CAST(sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn
                   FROM sc GROUP BY 1),
            tt AS (SELECT CAST(sum(pos) AS BIGINT) AS n1,
                          CAST(sum(1 - pos) AS BIGINT) AS n0 FROM sc),
            c2 AS (SELECT cents, np, nn, (np + nn) AS t,
                          CAST(sum(np + nn) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS cum
                   FROM bv),
            r AS (SELECT CAST(sum(np * (2 * (cum - t) + t + 1)) AS BIGINT) AS r2p
                  FROM c2),
            z AS (SELECT n1, n0, r2p - n1 * (n1 + 1) AS u2 FROM r, tt)
         SELECT n1 AS n_pos, n0 AS n_neg,
                (round(u2::DOUBLE / (2.0 * n1 * n0), 4) + 0.0) AS auc,
                (round(2.0 * (round(u2::DOUBLE / (2.0 * n1 * n0), 4) + 0.0)
                       - 1.0, 4) + 0.0) AS gini
         FROM z""",
    "q_survival" ->
      // Kaplan-Meier over user lifetimes; churn = idle > 7 days before
      // the corpus high-water mark, otherwise censored
      """WITH ev AS (SELECT user_id,
                           CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS day
                    FROM events),
            h AS (SELECT max(day) AS maxd FROM ev),
            u AS (SELECT CAST(date_diff('day', min(day), max(day)) AS INT) AS t,
                         CASE WHEN date_diff('day', max(day), maxd) > 7
                              THEN 1 ELSE 0 END AS churn
                  FROM ev, h GROUP BY user_id, maxd),
            bt AS (SELECT t, CAST(count(*) AS BIGINT) AS leave,
                          CAST(sum(churn) AS BIGINT) AS d
                   FROM u GROUP BY 1),
            rk AS (SELECT t, leave, d, (leave - d) AS c,
                          CAST(sum(leave) OVER () AS BIGINT)
                          - CAST(coalesce(sum(leave) OVER (ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                              0) AS BIGINT) AS n_risk
                   FROM bt),
            tm AS (SELECT t, n_risk, d, c,
                          CASE WHEN d < n_risk
                               THEN ln(1.0 - d::DOUBLE / n_risk)
                               ELSE 0.0 END AS term,
                          max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                            OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS dead
                   FROM rk)
         SELECT t, n_risk, d AS n_churn, c AS n_censored,
                CASE WHEN dead = 1 THEN 0.0
                     ELSE (round(exp(sum(term) OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                            4) + 0.0) END AS survival
         FROM tm ORDER BY t""",
    "q_dedup_report" ->
      // the q_dedup_cluster component CTE, rolled up per source
      """WITH RECURSIVE
            base AS (SELECT doc_id, lang, source,
                            string_split(text, ' ') AS toks FROM documents),
            ng AS (SELECT doc_id, lang, source,
                          list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngs
                   FROM base),
            nz AS (SELECT doc_id, lang, source, ngs FROM ng WHERE len(ngs) > 0),
            ex0 AS (SELECT doc_id, lang, source, unnest(ngs) AS g FROM nz),
            dfreq AS (SELECT g, count(*) AS df FROM ex0 GROUP BY 1),
            ex AS (SELECT ex0.* FROM ex0 JOIN dfreq USING (g) WHERE df <= 100),
            sz AS (SELECT doc_id, count(*) AS nsz FROM ex GROUP BY 1),
            inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                      FROM ex a JOIN ex b
                        ON a.lang = b.lang AND a.source = b.source
                       AND a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            pairs AS (SELECT d1, d2
                      FROM inter JOIN sz s1 ON s1.doc_id = d1
                                 JOIN sz s2 ON s2.doc_id = d2
                      WHERE (round(CAST(inter AS DOUBLE)
                                  / (s1.nsz + s2.nsz - inter), 4) + 0.0) >= 0.5),
            edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                      UNION ALL SELECT d2, d1 FROM pairs),
            reach AS (SELECT doc_id AS v, doc_id AS r FROM documents
                      UNION
                      SELECT e.b AS v, reach.r AS r
                      FROM reach JOIN edges e ON e.a = reach.v),
            comp AS (SELECT v AS doc_id, min(r) AS component
                     FROM reach GROUP BY 1)
         SELECT dd.source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT comp.component) AS BIGINT) AS n_clusters,
                CAST(count(*) - count(DISTINCT comp.component) AS BIGINT) AS n_dups,
                (round((count(*) - count(DISTINCT comp.component))::DOUBLE
                       / count(*), 4) + 0.0) AS dup_rate
         FROM comp JOIN documents dd USING (doc_id)
         GROUP BY 1 ORDER BY 1""",
    "q_chisq" ->
      // weekday x event-type independence; Monday=0 (isodow-1)
      """WITH g AS (SELECT CAST(isodow(ts::TIMESTAMP) - 1 AS INT) AS wd,
                           event_type, CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
            dims AS (SELECT CAST(count(DISTINCT wd) AS BIGINT) AS nr,
                            CAST(count(DISTINCT event_type) AS BIGINT) AS nc
                     FROM g),
            t AS (SELECT wd, event_type, n,
                         CAST(sum(n) OVER (PARTITION BY wd) AS BIGINT) AS rt,
                         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS ct,
                         CAST(sum(n) OVER () AS BIGINT) AS tot
                  FROM g),
            e AS (SELECT t.*, nr, nc, (rt * ct)::DOUBLE / tot AS e
                  FROM t, dims),
            c AS (SELECT *, (n - e) * (n - e) / e AS contrib FROM e)
         SELECT wd, event_type, n, (round(e, 4) + 0.0) AS expected,
                (round(contrib, 4) + 0.0) AS contrib,
                (round(sum(contrib) OVER (), 4) + 0.0) AS chi2,
                (nr - 1) * (nc - 1) AS dof
         FROM c ORDER BY wd, event_type""",
    "q_mix_kl" ->
      // q_mix_temperature's share derivation; KL(target||natural) and
      // total-variation distance as full-frame window sums
      """WITH bl AS (SELECT lang, count(*) AS n_docs,
                            CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                              AS tokens
                     FROM documents GROUP BY 1),
            t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM bl),
            sh AS (SELECT lang, n_docs, tokens,
                          CAST(tokens AS DOUBLE) / total_tokens AS q,
                          sqrt(CAST(tokens AS DOUBLE) / total_tokens) AS wt
                   FROM bl, t),
            ws AS (SELECT sum(wt) AS wt_sum FROM sh),
            m AS (SELECT lang, n_docs, tokens, q, wt / wt_sum AS p
                  FROM sh, ws),
            c AS (SELECT *, p * ln(p / q) AS contrib, abs(p - q) AS tvterm
                  FROM m)
         SELECT lang, n_docs, tokens,
                (round(q, 4) + 0.0) AS natural_share,
                (round(p, 4) + 0.0) AS target_share,
                (round(contrib, 4) + 0.0) AS contrib,
                (round(sum(contrib) OVER (), 4) + 0.0) AS kl,
                (round(sum(tvterm) OVER () / 2.0, 4) + 0.0) AS tv_dist
         FROM c ORDER BY lang""",
    "q_mann_kendall" ->
      // S, tie-corrected Var(S) and continuity-corrected z over daily
      // cents — all int64 until the single /18.0 division and sqrt
      """WITH daily AS (SELECT CAST(ts::TIMESTAMP AS DATE) AS day,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                 AS cents
                        FROM events GROUP BY 1),
            p AS (SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                                       WHEN b.cents < a.cents THEN -1
                                       ELSE 0 END) AS BIGINT) AS s
                  FROM daily a JOIN daily b ON b.day > a.day),
            n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
            t AS (SELECT CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0)
                              AS BIGINT) AS ties
                  FROM (SELECT count(*) AS tc FROM daily
                        GROUP BY cents HAVING count(*) > 1) g),
            v AS (SELECT nd, s, ties,
                         (nd * (nd - 1) * (2 * nd + 5) - ties) AS var18
                  FROM p, n, t)
         SELECT nd AS n_days, s,
                (round(var18 / 18.0, 4) + 0.0) AS var_s,
                (round(CASE WHEN var18 = 0 THEN 0.0
                            WHEN s > 0 THEN (s - 1) / sqrt(var18 / 18.0)
                            WHEN s < 0 THEN (s + 1) / sqrt(var18 / 18.0)
                            ELSE 0.0 END, 4) + 0.0) AS z,
                CASE WHEN s > 0 THEN 'increasing'
                     WHEN s < 0 THEN 'decreasing'
                     ELSE 'flat' END AS trend
         FROM v""",
    "q_ttest_welch" ->
      // Welch t from exact per-arm (n, Σx, Σx²); the only precision-
      // sensitive term is spelled sx::DOUBLE * sx / n on both engines
      """WITH u AS (SELECT user_id,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                           CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                                THEN 1 ELSE 0 END AS arm
                    FROM events GROUP BY user_id),
            g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(cents) AS BIGINT) AS sx,
                         CAST(sum(cents * cents) AS BIGINT) AS sxx
                  FROM u GROUP BY arm),
            ab AS (SELECT
                     max(CASE WHEN arm = 1 THEN n END) AS na,
                     max(CASE WHEN arm = 1 THEN sx END) AS sxa,
                     max(CASE WHEN arm = 1 THEN sxx END) AS sxxa,
                     max(CASE WHEN arm = 0 THEN n END) AS nb,
                     max(CASE WHEN arm = 0 THEN sx END) AS sxb,
                     max(CASE WHEN arm = 0 THEN sxx END) AS sxxb
                   FROM g),
            st AS (SELECT na, nb,
                          sxa::DOUBLE / na AS ma, sxb::DOUBLE / nb AS mb,
                          (sxxa - sxa::DOUBLE * sxa / na) / (na - 1) AS va,
                          (sxxb - sxb::DOUBLE * sxb / nb) / (nb - 1) AS vb
                   FROM ab),
            w AS (SELECT na, nb, ma, mb, va, vb,
                         va / na + vb / nb AS se2 FROM st)
         SELECT na AS n_a, nb AS n_b,
                (round(ma / 100.0, 4) + 0.0) AS mean_a,
                (round(mb / 100.0, 4) + 0.0) AS mean_b,
                (round((ma - mb) / sqrt(se2), 4) + 0.0) AS t_stat,
                (round(se2 * se2 / ((va / na) * (va / na) / (na - 1) +
                                    (vb / nb) * (vb / nb) / (nb - 1)), 4) + 0.0)
                  AS df
         FROM w""",
    "q_cramers_v" ->
      // same contingency derivation as q_chisq, reduced to the single
      // effect-size row: V = sqrt(chi2 / (N * min(r-1, c-1)))
      """WITH g AS (SELECT CAST(isodow(ts::TIMESTAMP) - 1 AS INT) AS wd, event_type,
                           CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
            dims AS (SELECT CAST(count(DISTINCT wd) AS BIGINT) AS nr,
                            CAST(count(DISTINCT event_type) AS BIGINT) AS nc
                     FROM g),
            t AS (SELECT wd, event_type, n,
                         CAST(sum(n) OVER (PARTITION BY wd) AS BIGINT) AS rt,
                         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS ct,
                         CAST(sum(n) OVER () AS BIGINT) AS tot
                  FROM g),
            e AS (SELECT n, tot, (rt * ct)::DOUBLE / tot AS e FROM t),
            c AS (SELECT (n - e) * (n - e) / e AS contrib, tot FROM e),
            x AS (SELECT sum(contrib) AS chi2, max(tot) AS tot FROM c)
         SELECT (round(chi2, 4) + 0.0) AS chi2,
                (nr - 1) * (nc - 1) AS dof,
                tot AS n,
                (round(sqrt(chi2 / (tot * least(nr - 1, nc - 1))), 4) + 0.0)
                  AS cramers_v
         FROM x, dims""",
    "q_regression" ->
      // OLS from exact int64 sufficient statistics; num²/den products
      // are spelled a::DOUBLE * b identically on both engines
      """WITH d0 AS (SELECT min(CAST(ts::TIMESTAMP AS DATE)) AS mind FROM events),
            r AS (SELECT event_type,
                         CAST(datediff('day', mind, CAST(ts::TIMESTAMP AS DATE))
                              AS BIGINT) AS x,
                         CAST(round(value * 100) AS BIGINT) AS y
                  FROM events, d0),
            a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM r GROUP BY 1),
            s AS (SELECT event_type, n,
                         (n * sxy - sx * sy) AS num,
                         (n * sxx - sx * sx) AS den1,
                         (n * syy - sy * sy) AS den2,
                         sx, sy FROM a),
            f AS (SELECT event_type, n,
                         num::DOUBLE / den1 AS slope_raw,
                         (sy::DOUBLE - num::DOUBLE / den1 * sx) / n AS icept_raw,
                         num::DOUBLE * num / (den1::DOUBLE * den2) AS r2_raw
                  FROM s)
         SELECT event_type, n,
                (round(slope_raw / 100.0, 4) + 0.0) AS slope,
                (round(icept_raw / 100.0, 4) + 0.0) AS intercept,
                (round(r2_raw, 4) + 0.0) AS r2
         FROM f ORDER BY event_type""",
    "q_bot_filter" ->
      """WITH pm AS (SELECT user_id, date_trunc('minute', ts::TIMESTAMP) AS m,
                            CAST(count(*) AS BIGINT) AS c
                     FROM events GROUP BY 1, 2),
            u AS (SELECT user_id, CAST(max(c) AS BIGINT) AS peak_epm,
                         CAST(count(*) AS BIGINT) AS active_minutes,
                         CAST(sum(c) AS BIGINT) AS total_events
                  FROM pm GROUP BY 1)
         SELECT user_id, peak_epm, active_minutes, total_events
         FROM u WHERE peak_epm >= 2 ORDER BY user_id""",
    "q_graph_components" ->
      // strong-tie cutoff w·|E| ≥ 2·Σw in exact int64; components =
      // min reachable label over the symmetrized strong edges
      """WITH RECURSIVE
           edges0 AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                             CAST(count(*) AS BIGINT) AS w
                      FROM lineitem l
                      JOIN orders o ON l.l_orderkey = o.o_orderkey
                      JOIN customer c ON o.o_custkey = c.c_custkey
                      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                      GROUP BY 1, 2),
           cut AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                          CAST(count(*) AS BIGINT) AS ne FROM edges0),
           strong AS (SELECT src, dst FROM edges0, cut
                      WHERE src <> dst AND w * ne >= 2 * tw),
           sym AS (SELECT src AS u, dst AS v FROM strong
                   UNION SELECT dst AS u, src AS v FROM strong),
           nodes AS (SELECT n_nationkey AS u FROM nation),
           walk(u, lbl) AS (
             SELECT u, u FROM nodes
             UNION
             SELECT s.v, w.lbl FROM walk w JOIN sym s ON s.u = w.u),
           comp AS (SELECT u AS nationkey, min(lbl) AS component
                    FROM walk GROUP BY u),
           sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
                     FROM comp GROUP BY 1)
         SELECT c.nationkey, n.n_name AS nation, c.component,
                s.csize AS component_size
         FROM comp c JOIN nation n ON c.nationkey = n.n_nationkey
                     JOIN sizes s ON c.component = s.component
         ORDER BY c.nationkey""",
    "q_mrr" ->
      // same candidate ranking as q_ndcg; rr = 1/first-relevant rank,
      // MRR averages the ROUNDED rr values (Spark does the same)
      """WITH em AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
                  FROM em WHERE vec_id < 10),
            sims AS (SELECT q_id, q_label, vec_id AS n_id, label AS n_label,
                            (round(list_dot_product(qv, v) /
                                  (sqrt(list_dot_product(qv, qv)) *
                                   sqrt(list_dot_product(v, v))), 4) + 0.0) AS sim
                     FROM em, q WHERE vec_id <> q_id),
            rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, n_id) AS rn
                   FROM sims),
            top AS (SELECT * FROM rk WHERE rn <= 10),
            rr AS (SELECT q_id,
                          (round(coalesce(1.0 /
                             min(CASE WHEN n_label = q_label THEN rn END), 0.0),
                             4) + 0.0) AS rr
                   FROM top GROUP BY q_id)
         SELECT q_id, rr, (round(avg(rr) OVER (), 4) + 0.0) AS mrr
         FROM rr ORDER BY q_id""",
    "q_theil_sen" ->
      // median of pairwise slopes picked MANUALLY (row_number bracket)
      // so no engine-specific percentile interpolation is in play
      """WITH daily AS (SELECT CAST(ts::TIMESTAMP AS DATE) AS day,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                 AS cents
                        FROM events GROUP BY 1),
            p AS (SELECT (b.cents - a.cents)::DOUBLE /
                           datediff('day', a.day, b.day) AS slope
                  FROM daily a JOIN daily b ON b.day > a.day),
            o AS (SELECT slope,
                         row_number() OVER (ORDER BY slope) AS rn,
                         CAST(count(*) OVER () AS BIGINT) AS cnt
                  FROM p),
            sel AS (SELECT slope, cnt FROM o
                    WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
         SELECT n_days, max(cnt) AS n_pairs,
                (round(sum(slope) / count(*) / 100.0, 4) + 0.0) AS slope
         FROM sel, n GROUP BY n_days""",
    "q_power_mde" ->
      // MDE on day-one conversion at alpha=0.05 / 80% power, given the
      // observed md5-gated arm sizes (the q_ab_test derivation)
      """WITH f AS (SELECT user_id,
                           min(epoch_us(ts::TIMESTAMP)//1000000) AS first_sec,
                           min(CASE WHEN event_type = 'purchase'
                                    THEN epoch_us(ts::TIMESTAMP)//1000000 END)
                             AS first_purch
                    FROM events GROUP BY user_id),
            u AS (SELECT user_id,
                         CASE WHEN first_purch IS NOT NULL
                                   AND first_purch - first_sec <= 86400
                              THEN 1 ELSE 0 END AS conv,
                         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                              THEN 1 ELSE 0 END AS arm
                  FROM f),
            ab AS (SELECT
                     CAST(sum(arm) AS BIGINT) AS na,
                     CAST(sum(arm * conv) AS BIGINT) AS ca,
                     CAST(sum(1 - arm) AS BIGINT) AS nb,
                     CAST(sum((1 - arm) * conv) AS BIGINT) AS cb
                   FROM u),
            pp AS (SELECT na, nb,
                          (ca + cb)::DOUBLE / (na + nb) AS p_pool FROM ab),
            m AS (SELECT na, nb, p_pool,
                         2.8016 * sqrt(p_pool * (1.0 - p_pool) *
                                       (1.0 / na + 1.0 / nb)) AS mde_abs
                  FROM pp)
         SELECT na AS n_a, nb AS n_b,
                (round(p_pool, 4) + 0.0) AS p_pool,
                (round(mde_abs, 4) + 0.0) AS mde_abs,
                (round(mde_abs / p_pool, 4) + 0.0) AS mde_rel
         FROM m""",
    "q_ngram_novelty" ->
      // gram ownership = min doc_id; novel count per doc comes from
      // the ownership frame alone (no corpus-gram join back)
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            ng AS (SELECT doc_id,
                          list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngs
                   FROM base),
            nz AS (SELECT doc_id, ngs FROM ng WHERE len(ngs) > 0),
            ex AS (SELECT doc_id, unnest(ngs) AS g FROM nz),
            firsts AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY 1),
            novel AS (SELECT first_doc AS doc_id,
                             CAST(count(*) AS BIGINT) AS novel
                      FROM firsts GROUP BY 1),
            szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex
                    GROUP BY 1)
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(coalesce(sum(s.n), 0) AS BIGINT) AS n_grams,
                CAST(coalesce(sum(v.novel), 0) AS BIGINT) AS novel_grams,
                (round(coalesce(sum(v.novel), 0)::DOUBLE /
                       coalesce(sum(s.n), 0), 4) + 0.0) AS novelty_rate
         FROM documents d LEFT JOIN szs s USING (doc_id)
                          LEFT JOIN novel v USING (doc_id)
         GROUP BY 1 ORDER BY 1""",
    "q_dup_family_hist" ->
      // the q_dedup_cluster component CTE, rolled into a family-size
      // histogram; singletons are real k=1 families
      """WITH RECURSIVE
            base AS (SELECT doc_id, lang, source,
                            string_split(text, ' ') AS toks FROM documents),
            ng AS (SELECT doc_id, lang, source,
                          list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngs
                   FROM base),
            nz AS (SELECT doc_id, lang, source, ngs FROM ng WHERE len(ngs) > 0),
            ex0 AS (SELECT doc_id, lang, source, unnest(ngs) AS g FROM nz),
            dfreq AS (SELECT g, count(*) AS df FROM ex0 GROUP BY 1),
            ex AS (SELECT ex0.* FROM ex0 JOIN dfreq USING (g) WHERE df <= 100),
            sz AS (SELECT doc_id, count(*) AS nsz FROM ex GROUP BY 1),
            inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                      FROM ex a JOIN ex b
                        ON a.lang = b.lang AND a.source = b.source
                       AND a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            pairs AS (SELECT d1, d2
                      FROM inter JOIN sz s1 ON s1.doc_id = d1
                                 JOIN sz s2 ON s2.doc_id = d2
                      WHERE (round(CAST(inter AS DOUBLE)
                                  / (s1.nsz + s2.nsz - inter), 4) + 0.0) >= 0.5),
            edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                      UNION ALL SELECT d2, d1 FROM pairs),
            reach AS (SELECT doc_id AS v, doc_id AS r FROM documents
                      UNION
                      SELECT e.b AS v, reach.r AS r
                      FROM reach JOIN edges e ON e.a = reach.v),
            comp AS (SELECT v AS doc_id, min(r) AS component
                     FROM reach GROUP BY 1),
            sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS family_size
                      FROM comp GROUP BY 1),
            total AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
         SELECT family_size, CAST(count(*) AS BIGINT) AS n_families,
                CAST(family_size * count(*) AS BIGINT) AS n_docs,
                (round((family_size * count(*))::DOUBLE / nd, 4) + 0.0)
                  AS corpus_share
         FROM sizes, total GROUP BY family_size, nd ORDER BY family_size""",
    "q_bootstrap_ci" ->
      // deterministic Poisson bootstrap: per-(user, replicate) weight
      // from an inverse-CDF ladder on the md5 uniform; percentile
      // bracket picked manually (no engine interpolation)
      """WITH u AS (SELECT user_id,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                             AS cents
                    FROM events GROUP BY user_id),
            reps AS (SELECT i AS b FROM range(1, 201) t(i)),
            w AS (SELECT u.user_id, u.cents, r.b,
                         ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':' ||
                                             CAST(r.b AS VARCHAR)), 1, 8))::BIGINT
                           / 4294967296.0 AS uu
                  FROM u, reps r),
            pw AS (SELECT user_id, cents, b,
                          CASE WHEN uu < 0.3679 THEN 0
                               WHEN uu < 0.7358 THEN 1
                               WHEN uu < 0.9197 THEN 2
                               WHEN uu < 0.9810 THEN 3
                               WHEN uu < 0.9963 THEN 4
                               WHEN uu < 0.9994 THEN 5
                               WHEN uu < 0.9999 THEN 6
                               ELSE 7 END AS wt
                   FROM w),
            means AS (SELECT b,
                             CAST(sum(wt * cents) AS BIGINT) AS num,
                             CAST(sum(wt) AS BIGINT) AS den
                      FROM pw GROUP BY b),
            mv AS (SELECT b, num::DOUBLE / den AS m FROM means WHERE den > 0),
            o AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn,
                         CAST(count(*) OVER () AS BIGINT) AS cnt
                  FROM mv),
            full_mean AS (SELECT sum(cents)::DOUBLE / count(*) AS mean_raw,
                                 CAST(count(*) AS BIGINT) AS n_users
                          FROM u)
         SELECT n_users, (SELECT max(cnt) FROM o) AS n_replicates,
                (round(mean_raw / 100.0, 4) + 0.0) AS mean_obs,
                (round((SELECT m FROM o WHERE rn = (cnt * 25 + 999) // 1000)
                       / 100.0, 4) + 0.0) AS ci_lo,
                (round((SELECT m FROM o WHERE rn = (cnt * 975) // 1000)
                       / 100.0, 4) + 0.0) AS ci_hi
         FROM full_mean""",
    "q_bot_stream" ->
      // batch truth of the streaming rate alarm: sealed per-(user,
      // minute) counts at the bot threshold
      """WITH pm AS (SELECT user_id,
                            epoch_us(date_trunc('minute', ts::TIMESTAMP)) AS minute_us,
                            CAST(count(*) AS BIGINT) AS n_events
                     FROM events GROUP BY 1, 2)
         SELECT user_id, minute_us, n_events
         FROM pm WHERE n_events >= 2
         ORDER BY user_id, minute_us""",
    "q_calibration" ->
      // reliability table + ECE of the spend-rank score: all exact-int
      // rationals — conf=Σr/(n_b·n), acc=Σpos/n_b, ECE=Σ|Σpos·n−Σr|/n²
      """WITH f AS (SELECT user_id,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                           min(epoch_us(ts::TIMESTAMP)//1000000) AS first_sec,
                           min(CASE WHEN event_type = 'purchase'
                                    THEN epoch_us(ts::TIMESTAMP)//1000000 END)
                             AS first_purch
                    FROM events GROUP BY user_id),
            sc AS (SELECT user_id, cents,
                          CASE WHEN first_purch IS NOT NULL
                                    AND first_purch - first_sec <= 86400
                               THEN 1 ELSE 0 END AS pos
                   FROM f),
            rk AS (SELECT cents, pos,
                          CAST(row_number() OVER (ORDER BY cents, user_id)
                               AS BIGINT) AS r,
                          CAST(count(*) OVER () AS BIGINT) AS n
                   FROM sc),
            b AS (SELECT CAST(((r - 1) * 10) // n AS INT) AS bin,
                         CAST(count(*) AS BIGINT) AS n_users,
                         CAST(sum(r) AS BIGINT) AS sr,
                         CAST(sum(pos) AS BIGINT) AS p,
                         CAST(min(n) AS BIGINT) AS n
                  FROM rk GROUP BY 1)
         SELECT bin, n_users,
                (round(sr::DOUBLE / (n_users * n), 4) + 0.0) AS conf,
                (round(p::DOUBLE / n_users, 4) + 0.0) AS acc,
                (round(abs(p * n - sr)::DOUBLE / (n_users * n), 4) + 0.0)
                  AS gap,
                (round(CAST(sum(abs(p * n - sr)) OVER () AS BIGINT)::DOUBLE
                       / (n * n), 4) + 0.0) AS ece
         FROM b ORDER BY bin""",
  )
}
