package graft.oracle

/** DuckDB oracle SQL, part 2/5 of the split registry (r12 verdict ask
  * #7 — SparkEntry.scala had grown past 6,000 lines): entries q_sessionize
  * … q_autocorr, in the original registration order, concatenated back
  * into `SparkEntry.oracleSql`. Contents are byte-identical to the
  * pre-split map (the Verify/DuckDB hash gate is the proof). */
private[graft] object OracleSql2 {
  val m: Map[String, String] = Map(
    "q_sessionize" ->
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
    "q_page_depth" ->
      """WITH e AS (SELECT user_id, event_id,
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
            per_sess AS (SELECT user_id, sid, count(*) AS depth
                         FROM sids GROUP BY 1, 2)
         SELECT depth, count(*) AS n_sessions
         FROM per_sess GROUP BY 1 ORDER BY 1""",
    "q_user_loyalty" ->
      """WITH e AS (SELECT user_id, event_id,
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
            per_user AS (SELECT user_id, max(sid) AS n_sessions
                         FROM sids GROUP BY 1)
         SELECT CASE WHEN n_sessions <= 55 THEN 'a_le55'
                     WHEN n_sessions <= 65 THEN 'b_56_65'
                     WHEN n_sessions <= 75 THEN 'c_66_75'
                     ELSE 'd_76plus' END AS bucket,
                count(*) AS n_users,
                CAST(sum(n_sessions) AS BIGINT) AS n_sessions
         FROM per_user GROUP BY 1 ORDER BY 1""",
    "q_sessionize_stream" ->
      """WITH e AS (SELECT user_id, value, event_id,
                           epoch_us(ts::TIMESTAMP) AS us FROM events),
            g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                                   OR us - lag(us) OVER w > 1800000000
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            sids AS (SELECT *, sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g)
         SELECT user_id, min(us) AS start_us, count(*) AS n_events,
                (round(sum(value), 4) + 0.0) AS session_value
         FROM sids GROUP BY user_id, sid ORDER BY user_id, start_us""",
    "q_session_metrics" ->
      """WITH e AS (SELECT user_id, event_id,
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
            sess AS (SELECT user_id, sid, min(ts_sec) AS start_sec,
                            max(ts_sec) AS end_sec, count(*) AS n_events
                     FROM sids GROUP BY 1, 2)
         SELECT DATE '1970-01-01' + CAST(start_sec // 86400 AS INT) AS day,
                count(*) AS n_sessions,
                (round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
                      / count(*), 4) + 0.0) AS bounce_rate,
                (round(sum(end_sec - start_sec)::DOUBLE / count(*), 4) + 0.0)
                  AS avg_duration_sec,
                (round(sum(n_events)::DOUBLE / count(*), 4) + 0.0) AS avg_events
         FROM sess GROUP BY 1 ORDER BY 1""",
    "q_window_tumbling" ->
      """SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS day,
                event_type, count(*) AS n, (round(sum(value), 4) + 0.0) AS val
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_pattern_match" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us,
                           ts::TIMESTAMP AS tsu, event_type FROM events),
            m AS (SELECT *,
                    max(CASE WHEN event_type = 'view' THEN us END) OVER w
                      AS last_view,
                    max(CASE WHEN event_type = 'error' THEN us END) OVER w
                      AS last_error
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)),
            p AS (SELECT CAST(date_trunc('day', tsu) AS DATE) AS day,
                         CASE WHEN last_view IS NULL
                                OR us - last_view > 3600000000 THEN 'no_view'
                              WHEN last_error IS NOT NULL
                                AND last_error > last_view THEN 'blocked'
                              ELSE 'clean' END AS status
                  FROM m WHERE event_type = 'purchase')
         SELECT day, count(*) AS n_purchases,
                CAST(sum(CASE WHEN status = 'clean' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clean,
                CAST(sum(CASE WHEN status = 'blocked' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_blocked,
                CAST(sum(CASE WHEN status = 'no_view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_no_view,
                (round(sum(CASE WHEN status = 'clean' THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 4) + 0.0) AS clean_rate
         FROM p GROUP BY 1 ORDER BY 1""",
    "q_tumbling_stream" ->
      """SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS day,
                event_type, count(*) AS n, (round(sum(value), 4) + 0.0) AS val
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_dedup_stream" ->
      // The stream source plants duplicate deliveries (id % 17, +30 s);
      // dropDuplicatesWithinWatermark must drop every copy, so the
      // drained survivors aggregate to exactly the CLEAN batch rollup.
      """SELECT event_type, count(*) AS n_events,
                CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS DOUBLE) / 100.0 AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_session_state_stream" ->
      // The custom-state sessionizer must reproduce the batch sessions:
      // same integer-second boundaries and "> 1800" split rule as
      // q_sessionize, value column deliberately out of the hash.
      """WITH e AS (SELECT user_id, event_id,
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
         SELECT user_id, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec,
                count(*) AS n_events
         FROM sids GROUP BY user_id, sid ORDER BY user_id, start_sec""",
    "q_upsert_stream" ->
      // The foreachBatch merge-upsert sink's final state must equal the
      // batch latest-row-per-(user, event_type) truth, independent of
      // how the stream was sliced into micro-batches (the merge is an
      // argmax semilattice — see StreamingOps.latestState).
      """WITH e AS (SELECT user_id, event_type,
                           epoch_us(ts::TIMESTAMP) AS ts_us,
                           event_id, value FROM events),
            r AS (SELECT *, row_number() OVER
                    (PARTITION BY user_id, event_type
                     ORDER BY ts_us DESC, event_id DESC) AS rn
                  FROM e)
         SELECT user_id, event_type, ts_us, event_id, value
         FROM r WHERE rn = 1 ORDER BY user_id, event_type""",
    "q_interval_join_stream" ->
      """WITH c AS (SELECT user_id AS c_user, epoch_us(ts::TIMESTAMP) AS c_us,
                           event_id AS click_id
                    FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS p_us,
                         event_id AS purchase_id, value
                  FROM events WHERE event_type = 'purchase')
         SELECT purchase_id, click_id, user_id, p_us, c_us, value
         FROM p JOIN c ON user_id = c_user
           AND c_us <= p_us AND c_us >= p_us - 3600000000
         ORDER BY purchase_id, click_id""",
    "q_window_sliding" ->
      """WITH w0 AS (SELECT (epoch_us(ts::TIMESTAMP)//1000000)//1800*1800 AS w_start,
                            event_type, value FROM events),
            both_w AS (SELECT w_start, event_type, value FROM w0
                       UNION ALL
                       SELECT w_start - 1800, event_type, value FROM w0)
         SELECT w_start, event_type, count(*) AS n, (round(sum(value), 4) + 0.0) AS val
         FROM both_w GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_pivot" ->
      """SELECT user_id,
                (round(sum(CASE WHEN event_type = 'click' THEN value END), 4) + 0.0) AS click,
                (round(sum(CASE WHEN event_type = 'error' THEN value END), 4) + 0.0) AS error,
                (round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) + 0.0) AS purchase,
                (round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) + 0.0) AS signup,
                (round(sum(CASE WHEN event_type = 'view' THEN value END), 4) + 0.0) AS view
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_unpivot" ->
      """WITH wide AS (SELECT l_returnflag,
                              (round(sum(l_quantity), 4) + 0.0) AS sum_qty,
                              (round(sum(l_extendedprice), 4) + 0.0) AS sum_price,
                              (round(avg(l_discount), 4) + 0.0) AS avg_disc
                       FROM lineitem GROUP BY 1)
         SELECT l_returnflag, metric, value FROM (
           SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
           UNION ALL
           SELECT l_returnflag, 'sum_price', sum_price FROM wide
           UNION ALL
           SELECT l_returnflag, 'avg_disc', avg_disc FROM wide) t
         ORDER BY l_returnflag, metric""",
    "q_percentile" ->
      """SELECT l_returnflag,
                (round(quantile_cont(l_extendedprice, 0.5), 4) + 0.0) AS median_price,
                (round(quantile_cont(l_extendedprice, 0.9), 4) + 0.0) AS p90_price
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_ntile_first_last" ->
      """SELECT o_orderkey, o_custkey,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                first_value(o_orderkey) OVER wf AS first_ok,
                last_value(o_orderkey) OVER wf AS last_ok
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice, o_orderkey),
                wf AS (PARTITION BY o_custkey
                       ORDER BY o_totalprice, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey""",
    "q_ingest_incremental" ->
      // one incremental-sync round: high-water mark from the pre-seeded
      // sink (events before the cutoff), candidates newer than
      // hwm − 1h slack, anti-join the sink's overlap window. The Spark
      // side anti-joins on the synthetic sha256 row_id; the oracle uses
      // the raw event_id — identical semantics (the id is an injective
      // function of event_id)
      """WITH src AS (SELECT event_id, ts::TIMESTAMP AS ts, event_type, value
                      FROM events),
            sink AS (SELECT * FROM src
                     WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
            hwm AS (SELECT max(ts) AS h FROM sink),
            cand AS (SELECT s.* FROM src s, hwm
                     WHERE s.ts > h - INTERVAL 1 HOUR),
            fresh AS (SELECT c.* FROM cand c
                      WHERE NOT EXISTS (SELECT 1 FROM sink k, hwm
                                        WHERE k.ts > h - INTERVAL 1 HOUR
                                          AND k.event_id = c.event_id))
         SELECT event_type,
                count(*) AS n_appended,
                (round(sum(value), 4) + 0.0) AS val_appended,
                epoch_us(min(ts)) // 1000000 AS first_sec,
                epoch_us(max(ts)) // 1000000 AS last_sec
         FROM fresh GROUP BY 1 ORDER BY event_type""",
    "q_merge_upsert" ->
      // latest-wins upsert: per-(user, event_type) current-state rows
      // from before/after the cutoff; a delta key REPLACES its base row
      // (ON DUPLICATE KEY UPDATE), others keep theirs. row_number
      // (ts DESC, event_id DESC) mirrors max_by's (ts, event_id) struct
      // preference
      """WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts, value,
                           event_id
                    FROM events),
            bstate AS (SELECT user_id, event_type, ts, value
                       FROM (SELECT *, row_number() OVER (
                               PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
                             FROM e WHERE ts < TIMESTAMP '2024-01-21 00:00:00') t
                       WHERE rn = 1),
            dstate AS (SELECT user_id, event_type, ts, value
                       FROM (SELECT *, row_number() OVER (
                               PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
                             FROM e WHERE ts >= TIMESTAMP '2024-01-21 00:00:00') t
                       WHERE rn = 1),
            merged AS (SELECT coalesce(b.user_id, d.user_id) AS user_id,
                              coalesce(b.event_type, d.event_type) AS event_type,
                              CASE WHEN d.user_id IS NOT NULL THEN d.ts ELSE b.ts END AS ts,
                              CASE WHEN d.user_id IS NOT NULL THEN d.value ELSE b.value END AS value,
                              CASE WHEN d.user_id IS NULL THEN 'kept'
                                   WHEN b.user_id IS NULL THEN 'inserted'
                                   ELSE 'updated' END AS merge_status
                       FROM bstate b FULL JOIN dstate d
                         ON b.user_id = d.user_id AND b.event_type = d.event_type)
         SELECT event_type,
                count(*) AS n_keys,
                CAST(sum(CASE WHEN merge_status = 'updated' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
                CAST(sum(CASE WHEN merge_status = 'inserted' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
                (round(sum(value), 4) + 0.0) AS total_value,
                epoch_us(max(ts)) // 1000000 AS last_sec
         FROM merged GROUP BY 1 ORDER BY event_type""",
    "q_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
            old AS (SELECT k, p AS p_old FROM o WHERE k % 13 <> 0),
            neu AS (SELECT k, CASE WHEN k % 7 = 0 THEN p + 10.0 ELSE p END
                      AS p_new
                    FROM o WHERE k % 11 <> 0),
            d AS (SELECT old.p_old, neu.p_new,
                         CASE WHEN p_old IS NULL THEN 'insert'
                              WHEN p_new IS NULL THEN 'delete'
                              WHEN p_old <> p_new THEN 'update'
                              ELSE 'unchanged' END AS change_type
                  FROM old FULL OUTER JOIN neu ON old.k = neu.k)
         SELECT change_type, count(*) AS n_keys,
                CAST(sum(CASE WHEN p_new IS NULL THEN 0
                              ELSE CAST(round(p_new * 100) AS BIGINT) END)
                  AS BIGINT) AS total_new_c,
                CAST(sum(CASE WHEN p_old IS NULL THEN 0
                              ELSE CAST(round(p_old * 100) AS BIGINT) END)
                  AS BIGINT) AS total_old_c
         FROM d GROUP BY 1 ORDER BY 1""",
    "q_cdc_apply" ->
      // Ordered I/U/D change-log application: base = latest pre-cutoff
      // state of users %5 ≠ 0, log = post-cutoff events of users
      // %7 ≠ 1 in (ts, event_id) sequence order with op D where
      // event_id % 5 = 0 else U; only the LAST log record per key
      // decides its fate. row_number DESC mirrors Spark's max_by on
      // the (ts, event_id) struct.
      """WITH base AS (
           SELECT user_id, event_type AS base_type, value AS base_value
           FROM (SELECT user_id, event_type, value,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn
                 FROM events
                 WHERE ts::TIMESTAMP < TIMESTAMP '2024-01-21 00:00:00'
                   AND user_id % 5 <> 0)
           WHERE rn = 1),
         lastop AS (
           SELECT user_id, op, log_value
           FROM (SELECT user_id,
                        CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op,
                        value AS log_value,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn
                 FROM events
                 WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-21 00:00:00'
                   AND user_id % 7 <> 1)
           WHERE rn = 1),
         c AS (
           SELECT CASE WHEN op IS NULL THEN 'untouched'
                       WHEN op = 'D' AND base_type IS NULL THEN 'ghost_delete'
                       WHEN op = 'D' THEN 'deleted'
                       WHEN base_type IS NULL THEN 'inserted'
                       ELSE 'updated' END AS status,
                  CASE WHEN op IS NULL THEN base_value
                       WHEN op = 'U' THEN log_value END AS final_value
           FROM base FULL OUTER JOIN lastop USING (user_id))
         SELECT status, count(*) AS n_keys,
                CAST(sum(CASE WHEN final_value IS NULL THEN 0
                              ELSE CAST(round(final_value * 100) AS BIGINT) END)
                  AS BIGINT) AS final_cents
         FROM c GROUP BY 1 ORDER BY 1""",
    "q_scd2_history" ->
      // SCD2 validity intervals of each user's event_type: change points
      // via lag over (ts, event_id) — event_id breaks equal-ts ties —
      // then lead/row_number over the SAME order for the interval close
      // and the version number. valid_to of the current segment is NULL.
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type, event_id
                    FROM events),
            marked AS (SELECT *, lag(event_type) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id) AS prev
                       FROM e),
            seg AS (SELECT user_id, event_type, ts, event_id,
                           epoch_us(ts) // 1000000 AS valid_from_sec
                    FROM marked
                    WHERE prev IS NULL OR prev <> event_type),
            iv AS (SELECT user_id, event_type, valid_from_sec,
                          lead(valid_from_sec) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_sec,
                          CAST(row_number() OVER (
                            PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS ver
                   FROM seg)
         SELECT user_id, event_type, valid_from_sec, valid_to_sec, ver
         FROM iv ORDER BY user_id, ver""",
    "q_as_of_state" ->
      // Time-travel read: the scd2 CTEs filtered to the segment valid
      // at the cutoff (valid_from <= T < valid_to, open segment NULL).
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type, event_id
                    FROM events),
            marked AS (SELECT *, lag(event_type) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id) AS prev
                       FROM e),
            seg AS (SELECT user_id, event_type, ts, event_id,
                           epoch_us(ts) // 1000000 AS valid_from_sec
                    FROM marked
                    WHERE prev IS NULL OR prev <> event_type),
            iv AS (SELECT user_id, event_type, valid_from_sec,
                          lead(valid_from_sec) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_sec,
                          CAST(row_number() OVER (
                            PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS ver
                   FROM seg),
            t AS (SELECT epoch_us(TIMESTAMP '2024-01-21 00:00:00') // 1000000 AS tc)
         SELECT user_id, event_type, valid_from_sec, ver
         FROM iv, t
         WHERE valid_from_sec <= tc
           AND (valid_to_sec IS NULL OR valid_to_sec > tc)
         ORDER BY user_id""",
    "q_session_paths" ->
      // same sessionization CTEs as q_sessionize; landing/exit via
      // first_value/last_value over (tsu, event_id) — the unique
      // event_id makes the Spark min_by/max_by struct preference agree
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
            fe AS (SELECT user_id, sid,
                          first_value(event_type) OVER ws AS landing_type,
                          last_value(event_type) OVER (
                            PARTITION BY user_id, sid ORDER BY tsu, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS exit_type
                   FROM sids
                   WINDOW ws AS (PARTITION BY user_id, sid
                                 ORDER BY tsu, event_id)),
            sess AS (SELECT DISTINCT user_id, sid, landing_type, exit_type
                     FROM fe)
         SELECT landing_type, exit_type, count(*) AS n_sessions
         FROM sess GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_exit_rate" ->
      // same sessionization CTEs; exit = last event of the session,
      // presence = distinct (session, type); rate divides two exact
      // integer counts once (the hash-safe rounding pattern)
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
            ex AS (SELECT user_id, sid,
                          last_value(event_type) OVER (
                            PARTITION BY user_id, sid ORDER BY tsu, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS exit_type
                   FROM sids),
            exits AS (SELECT DISTINCT user_id, sid, exit_type FROM ex),
            present AS (SELECT DISTINCT user_id, sid, event_type FROM sids)
         SELECT p.event_type AS event_type, count(*) AS n_sessions,
                CAST(sum(CASE WHEN p.event_type = x.exit_type
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_exits,
                (round(CAST(sum(CASE WHEN p.event_type = x.exit_type
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 4) + 0.0) AS exit_rate
         FROM present p JOIN exits x
           ON p.user_id = x.user_id AND p.sid = x.sid
         GROUP BY 1 ORDER BY 1""",
    "q_new_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::TIMESTAMP::DATE AS day
                     FROM events),
            c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
         SELECT ud.day AS day, count(*) AS n_active,
                CAST(sum(CASE WHEN ud.day = c.cohort_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN ud.day = c.cohort_day THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_returning
         FROM ud JOIN c ON ud.user_id = c.user_id
         GROUP BY 1 ORDER BY 1""",
    "q_expectations" ->
      """WITH c1 AS (SELECT 'lineitem_quantity_range' AS "check",
                            count(*) AS n_checked,
                            CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                                          THEN 1 ELSE 0 END) AS BIGINT)
                              AS n_violations
                     FROM lineitem),
            c2 AS (SELECT 'lineitem_orderkey_fk', count(*),
                          CAST(sum(CASE WHEN o_orderkey IS NULL
                                        THEN 1 ELSE 0 END) AS BIGINT)
                   FROM lineitem LEFT JOIN orders
                     ON l_orderkey = o_orderkey),
            c3 AS (SELECT 'events_value_nonnegative', count(*),
                          CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)
                            AS BIGINT)
                   FROM events),
            c4 AS (SELECT 'documents_nchars_consistent', count(*),
                          CAST(sum(CASE WHEN n_chars <> length(text)
                                        THEN 1 ELSE 0 END) AS BIGINT)
                   FROM documents),
            c5 AS (SELECT 'events_eventid_unique',
                          CAST(sum(n) AS BIGINT),
                          CAST(sum(n - 1) AS BIGINT)
                   FROM (SELECT count(*) AS n FROM events
                         GROUP BY event_id) g),
            u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
                  UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
                  UNION ALL SELECT * FROM c5)
         SELECT "check", n_checked, n_violations,
                n_violations = 0 AS pass
         FROM u ORDER BY 1""",
    "q_profile_nulls" ->
      """WITH t AS (SELECT count(*) AS n_rows,
                           count(user_id) AS nn_user_id,
                           count(DISTINCT user_id) AS nd_user_id,
                           count(event_type) AS nn_event_type,
                           count(DISTINCT event_type) AS nd_event_type,
                           count(value) AS nn_value,
                           count(DISTINCT value) AS nd_value,
                           count(props) AS nn_props,
                           count(DISTINCT props) AS nd_props
                    FROM events)
         SELECT 'user_id' AS column_name, n_rows,
                n_rows - nn_user_id AS n_nulls, nd_user_id AS n_distinct FROM t
         UNION ALL SELECT 'event_type', n_rows, n_rows - nn_event_type,
                          nd_event_type FROM t
         UNION ALL SELECT 'value', n_rows, n_rows - nn_value, nd_value FROM t
         UNION ALL SELECT 'props', n_rows, n_rows - nn_props, nd_props FROM t
         ORDER BY column_name""",
    "q_report_declarative" ->
      """SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS period,
                event_type, (round(sum(value), 4) + 0.0) AS total_value,
                count(event_id) AS n, count(DISTINCT user_id) AS n_users
         FROM events
         WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05'
           AND ts::TIMESTAMP < TIMESTAMP '2024-01-20'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_cohort_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::TIMESTAMP::DATE AS day
                     FROM events),
            c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
         SELECT c.cohort_day, CAST(ud.day - c.cohort_day AS INT) AS day_offset,
                count(*) AS n_users
         FROM ud JOIN c ON ud.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_funnel" ->
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events),
            s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
                   JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
                   JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
            counts AS (
              SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
              UNION ALL SELECT 2, 'click', count(*) FROM s2
              UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
            ent AS (SELECT n_users AS n_entered FROM counts WHERE step = 1)
         SELECT step, event_type, n_users,
                CASE WHEN n_entered = 0 THEN 0.0
                     ELSE (round(n_users::DOUBLE / n_entered, 4) + 0.0) END AS conv
         FROM counts, ent ORDER BY step""",
    "q_funnel_window" ->
      // Time-boxed funnel: each step must land strictly after the
      // previous step AND within 24 h of it. The cap compares
      // whole-second epochs (Spark's unix_timestamp truncates sub-
      // second), mirrored here with epoch_us // 1000000.
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events),
            s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
                   JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'click' AND e.ts > s1.t1
                     AND epoch_us(e.ts) // 1000000
                         <= epoch_us(s1.t1) // 1000000 + 86400
                   GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
                   JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                     AND epoch_us(e.ts) // 1000000
                         <= epoch_us(s2.t2) // 1000000 + 86400
                   GROUP BY 1),
            counts AS (
              SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
              UNION ALL SELECT 2, 'click', count(*) FROM s2
              UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
            ent AS (SELECT n_users AS n_entered FROM counts WHERE step = 1)
         SELECT step, event_type, n_users,
                CASE WHEN n_entered = 0 THEN 0.0
                     ELSE (round(n_users::DOUBLE / n_entered, 4) + 0.0) END AS conv
         FROM counts, ent ORDER BY step""",
    "q_funnel_stream" ->
      // Streaming first-touch funnel == batch time-boxed funnel: each step must land strictly after the
      // previous step AND within 24 h of it. The cap compares
      // whole-second epochs (Spark's unix_timestamp truncates sub-
      // second), mirrored here with epoch_us // 1000000.
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events),
            s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
                   JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'click' AND e.ts > s1.t1
                     AND epoch_us(e.ts) // 1000000
                         <= epoch_us(s1.t1) // 1000000 + 86400
                   GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
                   JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                     AND epoch_us(e.ts) // 1000000
                         <= epoch_us(s2.t2) // 1000000 + 86400
                   GROUP BY 1),
            counts AS (
              SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
              UNION ALL SELECT 2, 'click', count(*) FROM s2
              UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
            ent AS (SELECT n_users AS n_entered FROM counts WHERE step = 1)
         SELECT step, event_type, n_users,
                CASE WHEN n_entered = 0 THEN 0.0
                     ELSE (round(n_users::DOUBLE / n_entered, 4) + 0.0) END AS conv
         FROM counts, ent ORDER BY step""",
    "q_active_users" ->
      // Rolling distinct: each distinct (day, user) pair replicated to
      // the 7 target days it can serve; dau counts the off = 0 copy.
      // Report days = active days (semi-join on the real-day set).
      """WITH du AS (
           SELECT DISTINCT
                  CAST((epoch_us(ts::TIMESTAMP)//1000000) // 86400 AS INT)
                    AS day_num,
                  user_id
           FROM events),
         offs AS (SELECT CAST(range AS INT) AS off FROM range(0, 7)),
         sh AS (SELECT day_num + off AS day_num, user_id, off
                FROM du CROSS JOIN offs),
         real AS (SELECT DISTINCT day_num FROM du)
         SELECT s.day_num,
                CAST(count(DISTINCT CASE WHEN off = 0 THEN user_id END)
                  AS BIGINT) AS dau,
                CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
         FROM sh s JOIN real r ON s.day_num = r.day_num
         GROUP BY 1 ORDER BY 1""",
    "q_period_over_period" ->
      // Week-over-week: lag over the weekly rollup; change divides two
      // exact cent sums once, NULL on first/zero-revenue-prev weeks.
      """WITH weekly AS (
           SELECT date_trunc('week', o_orderdate)::DATE AS week,
                  count(*) AS n_orders,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM orders GROUP BY 1),
         l AS (SELECT week, n_orders, cents,
                      lag(cents, 1) OVER (ORDER BY week) AS prev
               FROM weekly)
         SELECT week, n_orders, CAST(cents AS DOUBLE)/100.0 AS revenue,
                CASE WHEN prev IS NULL OR prev = 0 THEN NULL
                     ELSE (round(CAST(cents - prev AS DOUBLE) / prev, 4) + 0.0)
                END AS wow_change
         FROM l ORDER BY week""",
    "q_agg_salted" ->
      """SELECT event_type, (round(sum(value), 4) + 0.0) AS sum_value,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_stats_agg" ->
      """SELECT event_type,
                (round(stddev_samp(value), 4) + 0.0) AS sd_value,
                (round(var_samp(value), 4) + 0.0) AS var_value,
                (round(corr(value, CAST(user_id AS DOUBLE)), 4) + 0.0) AS corr_vu,
                (round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) + 0.0) AS cov_vu
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_tfidf" ->
      """WITH tf AS (SELECT doc_id, tok, count(*) AS tf
                     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                           FROM documents) t
                     WHERE length(tok) > 0 GROUP BY 1, 2),
            df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents),
            sc AS (SELECT tf.doc_id, tf.tok,
                          (round(tf.tf * ln((1.0 + n.n) / (1.0 + df.df)), 4) + 0.0) AS s
                   FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
         SELECT doc_id, tok AS top_tok, s AS tfidf
         FROM (SELECT doc_id, tok, s,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY s DESC, tok) AS rn
               FROM sc) z
         WHERE rn = 1 ORDER BY doc_id""",
    "q_bm25" ->
      """WITH t AS (SELECT doc_id, tok
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                          FROM documents) x
                    WHERE length(tok) > 0),
            dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
            corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
            tfq AS (SELECT doc_id, tok, count(*) AS tf FROM t
                    WHERE tok IN ('spark', 'hash', 'dup') GROUP BY 1, 2),
            dfq AS (SELECT tok, count(*) AS df FROM tfq GROUP BY 1),
            sc AS (SELECT tfq.doc_id,
                          ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
                          (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS term_s
                   FROM tfq JOIN dfq ON tfq.tok = dfq.tok
                        JOIN dl ON tfq.doc_id = dl.doc_id
                        CROSS JOIN corpus)
         SELECT doc_id, (round(sum(term_s), 4) + 0.0) AS bm25
         FROM sc GROUP BY 1
         ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "q_rrf_fusion" ->
      """WITH dt AS (SELECT doc_id, tok
                     FROM (SELECT doc_id,
                                  unnest(list_distinct(string_split(text, ' ')))
                                    AS tok
                           FROM documents) x
                     WHERE length(tok) > 0),
            qt AS (SELECT doc_id AS q_id, tok FROM dt WHERE doc_id < 10),
            ov AS (SELECT q.q_id, c.doc_id, count(*) AS ov
                   FROM dt c JOIN qt q USING (tok)
                   WHERE c.doc_id <> q.q_id GROUP BY 1, 2),
            lex AS (SELECT q_id, doc_id,
                           CAST(row_number() OVER (PARTITION BY q_id
                             ORDER BY ov DESC, doc_id) AS INT) AS rl
                    FROM ov QUALIFY rl <= 20),
            em AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            qv AS (SELECT vec_id AS q_id, v AS qv FROM em WHERE vec_id < 10),
            sims AS (SELECT q_id, vec_id AS doc_id,
                            (round(list_dot_product(qv, v) /
                                  (sqrt(list_dot_product(qv, qv)) *
                                   sqrt(list_dot_product(v, v))), 4) + 0.0) AS sim
                     FROM em, qv WHERE vec_id <> q_id),
            sem AS (SELECT q_id, doc_id,
                           CAST(row_number() OVER (PARTITION BY q_id
                             ORDER BY sim DESC, doc_id) AS INT) AS rs
                    FROM sims QUALIFY rs <= 20),
            fused AS (SELECT coalesce(l.q_id, s.q_id) AS q_id,
                             coalesce(l.doc_id, s.doc_id) AS doc_id,
                             coalesce(1.0 / (60 + l.rl), 0) +
                             coalesce(1.0 / (60 + s.rs), 0) AS rrf0
                      FROM lex l FULL OUTER JOIN sem s
                        ON l.q_id = s.q_id AND l.doc_id = s.doc_id),
            fin AS (SELECT q_id, doc_id, rrf0,
                           CAST(row_number() OVER (PARTITION BY q_id
                             ORDER BY rrf0 DESC, doc_id) AS INT) AS rk
                    FROM fused QUALIFY rk <= 5)
         SELECT q_id, rk, doc_id, (round(rrf0, 4) + 0.0) AS rrf
         FROM fin ORDER BY q_id, rk""",
    "q_gap_fill" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS hr,
                           value FROM events),
            h0 AS (SELECT event_type, hr, count(*) AS n,
                          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                            AS cents
                   FROM e GROUP BY 1, 2),
            hourly AS (SELECT event_type, hr, n,
                              ((20000 * cents + 100 * n) // (200 * n)) / 10000.0
                                AS av
                       FROM h0),
            b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM e),
            hours AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
                      FROM b),
            types AS (SELECT DISTINCT event_type FROM e),
            spine AS (SELECT event_type, hr FROM types CROSS JOIN hours)
         SELECT s.event_type AS event_type, epoch_us(s.hr)//1000000 AS hr_sec,
                CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
                h.av AS avg_value,
                last_value(h.av IGNORE NULLS) OVER
                  (PARTITION BY s.event_type ORDER BY s.hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
         FROM spine s LEFT JOIN hourly h
              ON s.event_type = h.event_type AND s.hr = h.hr
         ORDER BY event_type, hr_sec""",
    "q_anomaly" ->
      """WITH daily AS (SELECT ts::TIMESTAMP::DATE AS day, count(*) AS n
                        FROM events GROUP BY 1),
            st AS (SELECT avg(n) AS mu, stddev_samp(n) AS sd FROM daily)
         SELECT day, n AS n_events, (round((n - mu) / sd, 4) + 0.0) AS z,
                CASE WHEN abs((round((n - mu) / sd, 4) + 0.0)) > 1.5 THEN 1 ELSE 0 END
                  AS is_anomaly
         FROM daily, st ORDER BY day""",
    "q_ab_test" ->
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
                              THEN 'A' ELSE 'B' END AS variant
                  FROM f),
            a AS (SELECT
                    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                    CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
                    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                    CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
                  FROM u),
            r AS (SELECT *,
                         CASE WHEN n_a = 0 THEN NULL ELSE conv_a / n_a END AS cra,
                         CASE WHEN n_b = 0 THEN NULL ELSE conv_b / n_b END AS crb,
                         (conv_a + conv_b) / (n_a + n_b) AS p
                  FROM a)
         SELECT n_a, conv_a, (round(cra, 4) + 0.0) AS cr_a,
                n_b, conv_b, (round(crb, 4) + 0.0) AS cr_b,
                (round(cra - crb, 4) + 0.0) AS lift,
                CASE WHEN p * (1.0 - p) = 0 THEN NULL
                     ELSE (round((cra - crb) /
                                sqrt(p * (1.0 - p) * (1.0 / n_a + 1.0 / n_b)), 4) + 0.0)
                END AS z
         FROM r""",
    "q_split_train" ->
      """SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs, (round(avg(n_chars), 4) + 0.0) AS avg_chars,
                count(DISTINCT lang) AS n_langs
         FROM (SELECT doc_id, n_chars, lang,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS b
               FROM documents) t
         GROUP BY 1 ORDER BY 1""",
    "q_markov" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sids AS (SELECT *, sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g),
            tr AS (SELECT event_type AS cur_type,
                          lead(event_type) OVER
                            (PARTITION BY user_id, sid
                             ORDER BY tsu, event_id) AS next_type
                   FROM sids),
            cnt AS (SELECT cur_type, next_type, count(*) AS n FROM tr
                    WHERE next_type IS NOT NULL GROUP BY 1, 2),
            tot AS (SELECT cur_type, CAST(sum(n) AS BIGINT) AS total
                    FROM cnt GROUP BY 1)
         SELECT cnt.cur_type AS cur_type, next_type, n,
                (round(n / total, 4) + 0.0) AS p
         FROM cnt JOIN tot ON cnt.cur_type = tot.cur_type
         ORDER BY cur_type, next_type""",
    "q_pagerank" ->
      """WITH edges AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                               count(*) AS w
                        FROM lineitem l
                        JOIN orders o ON l.l_orderkey = o.o_orderkey
                        JOIN customer c ON o.o_custkey = c.c_custkey
                        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        GROUP BY 1, 2),
            outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
                     FROM edges GROUP BY 1),
            trans AS (SELECT e.src, e.dst, e.w / o.ow AS p
                      FROM edges e JOIN outw o ON e.src = o.src),
            nodes AS (SELECT n_nationkey AS v FROM nation),
            ncnt AS (SELECT count(*) AS nc FROM nation),
            p0 AS (SELECT v, 1.0 / nc AS pr FROM nodes CROSS JOIN ncnt),
            c1 AS (SELECT t.dst, sum(p0.pr * t.p) AS in_pr
                   FROM trans t JOIN p0 ON t.src = p0.v GROUP BY 1),
            p1 AS (SELECT v, 0.15 / nc + 0.85 * coalesce(in_pr, 0.0) AS pr
                   FROM nodes CROSS JOIN ncnt LEFT JOIN c1 ON v = c1.dst),
            c2 AS (SELECT t.dst, sum(p1.pr * t.p) AS in_pr
                   FROM trans t JOIN p1 ON t.src = p1.v GROUP BY 1),
            p2 AS (SELECT v, 0.15 / nc + 0.85 * coalesce(in_pr, 0.0) AS pr
                   FROM nodes CROSS JOIN ncnt LEFT JOIN c2 ON v = c2.dst),
            c3 AS (SELECT t.dst, sum(p2.pr * t.p) AS in_pr
                   FROM trans t JOIN p2 ON t.src = p2.v GROUP BY 1),
            p3 AS (SELECT v, 0.15 / nc + 0.85 * coalesce(in_pr, 0.0) AS pr
                   FROM nodes CROSS JOIN ncnt LEFT JOIN c3 ON v = c3.dst)
         SELECT p3.v AS nationkey, n.n_name AS nation, (round(p3.pr, 4) + 0.0) AS pagerank
         FROM p3 JOIN nation n ON p3.v = n.n_nationkey
         ORDER BY nationkey""",
    "q_rfm" ->
      """WITH e AS (SELECT user_id, event_type, value,
                           CAST(epoch_us(ts::TIMESTAMP)//1000000 // 86400 AS INT)
                             AS day
                    FROM events),
            mx AS (SELECT max(day) AS max_day FROM e),
            u AS (SELECT user_id, max_day - max(day) AS recency,
                         count(*) AS frequency, (round(sum(value), 4) + 0.0) AS monetary
                  FROM e CROSS JOIN mx WHERE event_type = 'purchase'
                  GROUP BY user_id, max_day),
            thr AS (SELECT quantile_cont(recency, 0.25) AS r25,
                           quantile_cont(recency, 0.5) AS r50,
                           quantile_cont(recency, 0.75) AS r75,
                           quantile_cont(frequency, 0.25) AS f25,
                           quantile_cont(frequency, 0.5) AS f50,
                           quantile_cont(frequency, 0.75) AS f75,
                           (round(quantile_cont(monetary, 0.25), 4) + 0.0) AS m25,
                           (round(quantile_cont(monetary, 0.5), 4) + 0.0) AS m50,
                           (round(quantile_cont(monetary, 0.75), 4) + 0.0) AS m75
                    FROM u)
         SELECT user_id, recency, frequency, monetary,
                CASE WHEN recency <= r25 THEN 1 WHEN recency <= r50 THEN 2
                     WHEN recency <= r75 THEN 3 ELSE 4 END AS r_q,
                CASE WHEN frequency <= f25 THEN 1 WHEN frequency <= f50 THEN 2
                     WHEN frequency <= f75 THEN 3 ELSE 4 END AS f_q,
                CASE WHEN monetary <= m25 THEN 1 WHEN monetary <= m50 THEN 2
                     WHEN monetary <= m75 THEN 3 ELSE 4 END AS m_q
         FROM u CROSS JOIN thr ORDER BY user_id""",
    "q_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sids AS (SELECT *, sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g),
            fe AS (SELECT user_id, sid, event_type, value,
                          first_value(event_type) OVER
                            (PARTITION BY user_id, sid ORDER BY tsu, event_id)
                            AS landing_type
                   FROM sids),
            sess AS (SELECT user_id, sid, landing_type,
                            sum(CASE WHEN event_type = 'purchase' THEN value
                                     ELSE 0.0 END) AS rev,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                                          ELSE 0 END) AS BIGINT) AS n_purch
                     FROM fe GROUP BY 1, 2, 3)
         SELECT landing_type, count(*) AS n_sessions,
                CAST(sum(n_purch) AS BIGINT) AS n_purchases,
                (round(sum(rev), 4) + 0.0) AS revenue
         FROM sess GROUP BY 1 ORDER BY 1""",
    "q_moving_avg" ->
      """WITH daily AS (
           SELECT CAST((epoch_us(o_orderdate)//1000000) // 86400 AS INT) AS day_num,
                  count(*) AS n_orders,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM orders GROUP BY 1),
         w AS (
           SELECT day_num, n_orders, cents,
                  CAST(sum(cents) OVER win AS BIGINT) AS c7,
                  CAST(count(*) OVER win AS BIGINT) AS n7
           FROM daily
           WINDOW win AS (ORDER BY day_num
                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT day_num, n_orders, CAST(cents AS DOUBLE)/100.0 AS revenue,
                CAST((20000*c7 + 100*n7) // (200*n7) AS DOUBLE)/10000.0 AS ma7,
                CAST(n7 AS INT) AS days_in_window
         FROM w ORDER BY day_num""",
    "q_forecast_daily" ->
      // seasonal-naive: next 7 days = mean revenue of the same weekday
      // over the history; Monday=0 on both engines (weekday / isodow-1)
      """WITH daily AS (SELECT CAST(ts::TIMESTAMP AS DATE) AS day, value
                        FROM events),
            wd AS (SELECT (isodow(day) - 1) AS wd,
                          (round(sum(value) / count(DISTINCT day), 4) + 0.0)
                            AS forecast
                   FROM daily GROUP BY 1),
            mx AS (SELECT max(day) AS d0 FROM daily),
            horizon AS (SELECT (d0 + i * INTERVAL 1 DAY)::DATE AS day
                        FROM mx, range(1, 8) t(i))
         SELECT h.day AS day, w.forecast AS forecast
         FROM horizon h JOIN wd w ON (isodow(h.day) - 1) = w.wd
         ORDER BY day""",
    "q_trend_ewma" ->
      // Dyadic-weight EWMA: day Δ back weighs 1 << (8−Δ), truncated at
      // Δ = 8; the trailing window is an offset equi-join (off 0..8)
      // and the single division is rounded in integer arithmetic
      // ((200·N + D) // (2·D)) — the moving_avg idiom.
      """WITH daily AS (
           SELECT o_orderpriority AS priority,
                  CAST((epoch_us(o_orderdate)//1000000) // 86400 AS INT)
                    AS day_num,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM orders GROUP BY 1, 2),
         offs AS (SELECT CAST(range AS INT) AS off FROM range(0, 9))
         SELECT a.priority, a.day_num,
                CAST(a.cents AS DOUBLE)/100.0 AS revenue,
                CAST((200 * CAST(sum((1::BIGINT << (8 - off)) * b.cents)
                              AS BIGINT)
                      + CAST(sum(1::BIGINT << (8 - off)) AS BIGINT))
                     // (2 * CAST(sum(1::BIGINT << (8 - off)) AS BIGINT))
                  AS DOUBLE) / 10000.0 AS ewma,
                CAST(count(*) AS INT) AS n_days
         FROM daily a CROSS JOIN offs
         JOIN daily b ON b.priority = a.priority
                     AND b.day_num = a.day_num - off
         GROUP BY a.priority, a.day_num, a.cents
         ORDER BY a.priority, a.day_num""",
    "q_time_to_convert" ->
      """WITH u AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view'
                           THEN epoch_us(ts::TIMESTAMP)//1000000 END) AS fv,
                  min(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts::TIMESTAMP)//1000000 END) AS fp
           FROM events GROUP BY 1)
         SELECT (fp - fv) // 3600 AS hours_to_convert, count(*) AS n_users
         FROM u WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
         GROUP BY 1 ORDER BY 1""",
    "q_ltv" ->
      """WITH o AS (SELECT o_custkey AS cust,
                           CAST(year(o_orderdate)*12 + month(o_orderdate) AS INT)
                             AS mi,
                           CAST(round(o_totalprice*100) AS BIGINT) AS cents
                    FROM orders),
            cohort AS (SELECT cust, min(mi) AS cm FROM o GROUP BY 1),
            sizes AS (SELECT cm, count(*) AS cohort_size FROM cohort GROUP BY 1),
            cells AS (SELECT c.cm, o.mi - c.cm AS month_age, count(*) AS n_orders,
                             CAST(sum(o.cents) AS BIGINT) AS c
                      FROM o JOIN cohort c ON o.cust = c.cust GROUP BY 1, 2),
            cum AS (SELECT cm, month_age, n_orders, c,
                           CAST(sum(c) OVER (PARTITION BY cm ORDER BY month_age
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS BIGINT) AS cumc
                    FROM cells)
         SELECT cm AS cohort_month, month_age, cohort_size, n_orders,
                CAST(c AS DOUBLE)/100.0 AS revenue,
                CAST(cumc AS DOUBLE)/100.0 AS cum_revenue,
                CAST((20000*cumc + 100*cohort_size) // (200*cohort_size)
                     AS DOUBLE)/10000.0 AS ltv_per_user
         FROM cum JOIN sizes USING (cm) ORDER BY cohort_month, month_age""",
    "q_graph_degree" ->
      """WITH edges AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                               count(*) AS w
                        FROM lineitem l
                        JOIN orders o ON l.l_orderkey = o.o_orderkey
                        JOIN customer c ON o.o_custkey = c.c_custkey
                        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        GROUP BY 1, 2),
            outd AS (SELECT src, count(*) AS od, CAST(sum(w) AS BIGINT) AS ow
                     FROM edges GROUP BY 1),
            ind AS (SELECT dst, count(*) AS idg, CAST(sum(w) AS BIGINT) AS iw
                    FROM edges GROUP BY 1)
         SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
                CAST(coalesce(od, 0) AS BIGINT) AS out_degree,
                CAST(coalesce(idg, 0) AS BIGINT) AS in_degree,
                CAST(coalesce(ow, 0) AS BIGINT) AS out_weight,
                CAST(coalesce(iw, 0) AS BIGINT) AS in_weight
         FROM nation n LEFT JOIN outd ON n.n_nationkey = outd.src
                       LEFT JOIN ind ON n.n_nationkey = ind.dst
         ORDER BY nationkey""",
    "q_triangles" ->
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
            und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM edges WHERE src <> dst),
            tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                    FROM und e1
                    JOIN und e2 ON e1.b = e2.a
                    JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
            tpn AS (SELECT v, count(*) AS n_tri
                    FROM (SELECT x AS v FROM tri UNION ALL
                          SELECT y FROM tri UNION ALL
                          SELECT z FROM tri) t GROUP BY 1),
            deg AS (SELECT v, count(*) AS degree
                    FROM (SELECT a AS v FROM und UNION ALL
                          SELECT b FROM und) t GROUP BY 1)
         SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
                CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree,
                CAST(coalesce(tpn.n_tri, 0) AS BIGINT) AS n_triangles,
                CASE WHEN coalesce(deg.degree, 0) < 2 THEN 0.0
                     ELSE (round(2.0*coalesce(tpn.n_tri, 0) /
                                (deg.degree*(deg.degree - 1)), 4) + 0.0) END
                  AS clustering
         FROM nation n LEFT JOIN deg ON n.n_nationkey = deg.v
                       LEFT JOIN tpn ON n.n_nationkey = tpn.v
         ORDER BY nationkey""",
    "q_attribution_last" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sids AS (SELECT *, sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g),
            fe AS (SELECT user_id, sid, event_type, value,
                          last_value(event_type) OVER
                            (PARTITION BY user_id, sid ORDER BY tsu, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS exit_type
                   FROM sids),
            sess AS (SELECT user_id, sid, exit_type,
                            sum(CASE WHEN event_type = 'purchase' THEN value
                                     ELSE 0.0 END) AS rev,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                                          ELSE 0 END) AS BIGINT) AS n_purch
                     FROM fe GROUP BY 1, 2, 3)
         SELECT exit_type, count(*) AS n_sessions,
                CAST(sum(n_purch) AS BIGINT) AS n_purchases,
                (round(sum(rev), 4) + 0.0) AS revenue
         FROM sess GROUP BY 1 ORDER BY 1""",
    "q_attribution_linear" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sids AS (SELECT *, sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g),
            sess AS (SELECT user_id, sid,
                            sum(CASE WHEN event_type = 'purchase' THEN value
                                     ELSE 0.0 END) AS rev,
                            count(*) AS n_touch
                     FROM sids GROUP BY 1, 2)
         SELECT s.event_type, count(*) AS n_touches,
                (round(sum(ss.rev / ss.n_touch), 4) + 0.0) AS revenue
         FROM sids s JOIN sess ss ON s.user_id = ss.user_id AND s.sid = ss.sid
         GROUP BY 1 ORDER BY 1""",
    "q_attribution_decay" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sids AS (SELECT *, sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g),
            sess AS (SELECT user_id, sid,
                            sum(CASE WHEN event_type = 'purchase' THEN value
                                     ELSE 0.0 END) AS rev,
                            max(ts_sec) AS end_sec
                     FROM sids GROUP BY 1, 2),
            evw AS (SELECT s.user_id, s.sid, s.event_type, ss.rev,
                           pow(2.0, greatest(
                               -floor((ss.end_sec - s.ts_sec) / 600.0),
                               -40.0)) AS w
                    FROM sids s
                    JOIN sess ss ON s.user_id = ss.user_id AND s.sid = ss.sid),
            ws AS (SELECT user_id, sid, sum(w) AS wsum
                   FROM evw GROUP BY 1, 2)
         SELECT e.event_type, count(*) AS n_touches,
                (round(sum(e.rev * e.w / w.wsum), 4) + 0.0) AS revenue
         FROM evw e JOIN ws w ON e.user_id = w.user_id AND e.sid = w.sid
         GROUP BY 1 ORDER BY 1""",
    "q_attribution_position" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
                           epoch_us(ts::TIMESTAMP)//1000000 AS ts_sec,
                           ts::TIMESTAMP AS tsu FROM events),
            g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                                   OR ts_sec - lag(ts_sec) OVER w > 1800
                                 THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            sids AS (SELECT *, sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g),
            pos AS (SELECT *, row_number() OVER
                      (PARTITION BY user_id, sid ORDER BY tsu, event_id) AS rn,
                           count(*) OVER (PARTITION BY user_id, sid) AS n_touch
                    FROM sids),
            sess AS (SELECT user_id, sid,
                            sum(CASE WHEN event_type = 'purchase' THEN value
                                     ELSE 0.0 END) AS rev
                     FROM sids GROUP BY 1, 2)
         SELECT p.event_type, count(*) AS n_touches,
                (round(sum(ss.rev *
                          CASE WHEN p.n_touch = 1 THEN CAST(1.0 AS DOUBLE)
                               WHEN p.n_touch = 2 THEN CAST(0.5 AS DOUBLE)
                               WHEN p.rn = 1 OR p.rn = p.n_touch
                                 THEN CAST(0.4 AS DOUBLE)
                               ELSE CAST(0.2 AS DOUBLE) / (p.n_touch - 2)
                          END), 4) + 0.0) AS revenue
         FROM pos p JOIN sess ss ON p.user_id = ss.user_id AND p.sid = ss.sid
         GROUP BY 1 ORDER BY 1""",
    "q_knn_classify" ->
      """WITH em AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                     FROM embeddings),
            q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv
                  FROM em WHERE vec_id < 10),
            sims AS (SELECT q_id, vec_id AS n_id, label,
                            (round(list_dot_product(qv, v) /
                                  (sqrt(list_dot_product(qv, qv)) *
                                   sqrt(list_dot_product(v, v))), 4) + 0.0) AS sim
                     FROM em, q WHERE vec_id <> q_id),
            rk AS (SELECT q_id, n_id, label,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY sim DESC, n_id) AS rn
                   FROM sims),
            votes AS (SELECT q_id, label, count(*) AS cnt
                      FROM rk WHERE rn <= 3 GROUP BY 1, 2),
            pred AS (SELECT q_id, label AS pred_label, cnt,
                            row_number() OVER (PARTITION BY q_id
                              ORDER BY cnt DESC, label) AS pr
                     FROM votes)
         SELECT p.q_id, q.true_label, p.pred_label,
                CAST(p.cnt AS BIGINT) AS votes
         FROM pred p JOIN q ON p.q_id = q.q_id
         WHERE p.pr = 1 ORDER BY p.q_id""",
    "q_market_basket" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
                     FROM lineitem JOIN part ON l_partkey = p_partkey),
            n AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
            bc AS (SELECT b, count(*) AS nb FROM ob GROUP BY 1),
            pairs AS (SELECT x.b AS brand_a, y.b AS brand_b,
                             count(*) AS n_ab
                      FROM ob x JOIN ob y ON x.ok = y.ok AND x.b < y.b
                      GROUP BY 1, 2)
         SELECT p.brand_a, p.brand_b, CAST(p.n_ab AS BIGINT) AS n_ab,
                CAST(ba.nb AS BIGINT) AS n_a, CAST(bb.nb AS BIGINT) AS n_b,
                (round(p.n_ab / n.n_orders, 4) + 0.0) AS support,
                (round((n.n_orders * p.n_ab) / (ba.nb * bb.nb), 4) + 0.0) AS lift
         FROM pairs p
         JOIN bc ba ON p.brand_a = ba.b
         JOIN bc bb ON p.brand_b = bb.b
         CROSS JOIN n
         ORDER BY p.brand_a, p.brand_b""",
    "q_simjoin_prefix" ->
      """WITH tk AS (SELECT DISTINCT doc_id, tok
                     FROM (SELECT doc_id,
                                  unnest(string_split(text, ' ')) AS tok
                           FROM documents) t
                     WHERE length(tok) > 0),
            sz AS (SELECT doc_id, count(*) AS m FROM tk GROUP BY 1),
            p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                  FROM tk a JOIN tk b
                    ON a.tok = b.tok AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
         SELECT p.d1, p.d2, CAST(p.inter AS BIGINT) AS inter,
                CAST(s1.m AS BIGINT) AS m1, CAST(s2.m AS BIGINT) AS m2,
                (round(p.inter / (s1.m + s2.m - p.inter), 4) + 0.0) AS jaccard
         FROM p JOIN sz s1 ON p.d1 = s1.doc_id
                JOIN sz s2 ON p.d2 = s2.doc_id
         WHERE p.inter / (s1.m + s2.m - p.inter) >= 0.9
         ORDER BY p.d1, p.d2""",
    "q_join_bucketed" ->
      """SELECT o_orderstatus, count(*) AS n_items,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                         (10000 - CAST(round(l_discount * 10000) AS BIGINT)))
                     AS DOUBLE) / 1000000.0 AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1 ORDER BY 1""",
    "q_winsorize" ->
      """WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS p
                     FROM lineitem),
            thr AS (SELECT flag,
                           (round(quantile_cont(p, 0.05), 4) + 0.0) AS p05,
                           (round(quantile_cont(p, 0.95), 4) + 0.0) AS p95
                    FROM li GROUP BY 1)
         SELECT li.flag, count(*) AS n, thr.p05, thr.p95,
                (round(avg(p), 4) + 0.0) AS mean_raw,
                (round(avg(least(greatest(p, thr.p05), thr.p95)), 4) + 0.0)
                  AS mean_winsorized
         FROM li JOIN thr ON li.flag = thr.flag
         GROUP BY li.flag, thr.p05, thr.p95
         ORDER BY li.flag""",
    "q_autocorr" ->
      """WITH daily AS (
           SELECT CAST((epoch_us(ts::TIMESTAMP)//1000000) // 86400 AS INT)
                    AS day_num,
                  count(*) AS n
           FROM events GROUP BY 1),
         lags AS (SELECT CAST(range AS INT) AS lag_k FROM range(1, 4))
         SELECT lag_k, count(*) AS n_pairs,
                (round(corr(CAST(a.n AS DOUBLE), CAST(b.n AS DOUBLE)), 4) + 0.0)
                  AS autocorr
         FROM daily a CROSS JOIN lags
         JOIN daily b ON a.day_num = b.day_num + lag_k
         GROUP BY lag_k ORDER BY lag_k""",
  )
}
