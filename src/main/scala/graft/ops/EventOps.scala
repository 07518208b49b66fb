package graft.ops

import graft.{Memo, Op, OpModule, Tables}
import graft.streaming.EventStreams
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch renderings of the streaming / event-sourcing layer
  * (SURVEY.md §2.9). Each op shares its transform body with the
  * streaming path in [[graft.streaming.EventStreams]]; the ops here
  * run that body under `spark.read` so the DuckDB oracle can grade
  * it, while EventStreamSpec replays the same body under
  * `readStream` and asserts equivalence (SURVEY §5.2.3).
  *
  * All timestamps are exported as exact epoch microseconds (longs) —
  * never raw timestamp columns — so Spark-parquet and DuckDB value
  * spaces can't disagree on timezone rendering.
  */
object EventOps extends OpModule {

  /** Shared rolling-correlation SQL (win_rolling_corr): one window
    * pass of exact integer moment sums over the `daily` relation
    * (event_type, eday, x = cents BIGINT, y = count BIGINT), then the
    * IEEE finish. The string is shared verbatim between the Spark
    * query and the DuckDB oracle (the bm25/statsMoments discipline —
    * ONE expression shape is what makes the doubles bit-identical);
    * only the engine-specific `daily` SQL differs (datediff vs
    * date_diff spelling). Decimal widths per the Scaladoc bound
    * (x, y ≤ 3e9): frame sums ≤ 2.1e10 → (14,0); squares ≤ 9e18
    * (inside int64) → sums ≤ 6.3e19 → (20,0); n·Σ and Σ·Σ terms
    * ≤ 4.4e20 → left operand pre-cast to (21,0), the DuckDB
    * result-width convention agg_stats_moments documents.
    */
  private def rollingCorrSql(daily: String): String =
    s"""SELECT event_type, eday,
          CAST(n AS BIGINT) AS n_days,
          CASE WHEN vx = 0 OR vy = 0 THEN NULL
               ELSE CAST(cxy AS DOUBLE)
                    / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))
          END AS corr7
        FROM (
          SELECT event_type, eday, n,
            CAST(n AS DECIMAL(21,0))*sxx - CAST(sx AS DECIMAL(21,0))*sx AS vx,
            CAST(n AS DECIMAL(21,0))*syy - CAST(sy AS DECIMAL(21,0))*sy AS vy,
            CAST(n AS DECIMAL(21,0))*sxy - CAST(sx AS DECIMAL(21,0))*sy AS cxy
          FROM (
            SELECT event_type, eday,
              CAST(count(*) OVER w AS DECIMAL(1,0)) AS n,
              CAST(sum(CAST(x AS DECIMAL(13,0))) OVER w AS DECIMAL(14,0))
                AS sx,
              CAST(sum(CAST(y AS DECIMAL(13,0))) OVER w AS DECIMAL(14,0))
                AS sy,
              CAST(sum(CAST(x*x AS DECIMAL(19,0))) OVER w AS DECIMAL(20,0))
                AS sxx,
              CAST(sum(CAST(y*y AS DECIMAL(19,0))) OVER w AS DECIMAL(20,0))
                AS syy,
              CAST(sum(CAST(x*y AS DECIMAL(19,0))) OVER w AS DECIMAL(20,0))
                AS sxy
            FROM ($daily)
            WINDOW w AS (PARTITION BY event_type ORDER BY eday
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)))
        ORDER BY event_type, eday"""

  /** Shared Bollinger-band SQL (win_bollinger): exact frame moments
    * over the `daily` relation (event_type, eday, x = cents BIGINT),
    * IEEE finish — the [[rollingCorrSql]] discipline for a single
    * series. 20-period frame (the textbook default). */
  private def bollingerSql(daily: String): String =
    s"""SELECT event_type, eday, x_cents,
          CAST(n AS BIGINT) AS n_days, mean_c, sigma_c,
          CAST(x_cents AS DOUBLE) > mean_c + 2e0 * sigma_c AS above,
          CAST(x_cents AS DOUBLE) < mean_c - 2e0 * sigma_c AS below
        FROM (
          SELECT event_type, eday, x_cents, n,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
            sqrt(CAST(CAST(n AS DECIMAL(22,0))*sxx
                      - CAST(sx AS DECIMAL(22,0))*sx AS DOUBLE))
              / CAST(n AS DOUBLE) AS sigma_c
          FROM (
            SELECT event_type, eday, x AS x_cents,
              CAST(count(*) OVER w AS DECIMAL(2,0)) AS n,
              CAST(sum(CAST(x AS DECIMAL(13,0))) OVER w AS DECIMAL(15,0))
                AS sx,
              CAST(sum(CAST(x*x AS DECIMAL(19,0))) OVER w AS DECIMAL(21,0))
                AS sxx
            FROM ($daily)
            WINDOW w AS (PARTITION BY event_type ORDER BY eday
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)))
        ORDER BY event_type, eday"""

  /** Shared CUPED SQL (stream_ab_cuped). Engine-spliced pieces: the
    * md5 arm bucket, the epoch-day expression, and integer division
    * (Spark DIV / DuckDB //); everything downstream is the identical
    * exact-int + fixed-IEEE-sequence text. A zero-variance pre-period
    * (n·sxx = sx², e.g. every user had identical — or zero —
    * pre-period spend) degrades theta AND adj_mean to NULL — the
    * sweep-wide convention (degenerate → NULL, never an
    * engine-divergent NaN/Inf, and never a silently plausible
    * fallback value): a theta of literal 0 is a legitimate
    * no-correlation estimate, so the r18 guard's theta := 0 left a
    * consumer unable to tell a real adjustment from the degraded
    * case (ADVICE r18). mean_post/mean_pre stay populated, so the
    * un-adjusted readout survives the degenerate input. */
  private def cupedSql(table: String): String = {
    val spark = table.startsWith("graft_")
    val arm =
      if (spark)
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"
      else
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    val mid =
      if (spark) "(min(d) + max(d) + 1) DIV 2"
      else "(min(d) + max(d) + 1) // 2"
    s"""WITH e AS (
          SELECT user_id, $arm AS armb, $day AS d,
            CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END AS cents
          FROM $table),
        m AS (SELECT CAST($mid AS BIGINT) AS mid FROM e),
        u AS (
          SELECT user_id, armb,
            CAST(sum(CASE WHEN d < m.mid THEN cents ELSE 0 END)
              AS BIGINT) AS pre,
            CAST(sum(CASE WHEN d >= m.mid THEN cents ELSE 0 END)
              AS BIGINT) AS post
          FROM e, m GROUP BY user_id, armb, m.mid),
        g AS (
          SELECT CAST(count(*) AS DECIMAL(11,0)) AS n,
            CAST(sum(CAST(pre AS DECIMAL(16,0))) AS DECIMAL(16,0)) AS sx,
            CAST(sum(CAST(post AS DECIMAL(16,0))) AS DECIMAL(16,0)) AS sy,
            CAST(sum(CAST(pre*pre AS DECIMAL(21,0))) AS DECIMAL(21,0))
              AS sxx,
            CAST(sum(CAST(pre*post AS DECIMAL(21,0))) AS DECIMAL(21,0))
              AS sxy
          FROM u),
        th AS (
          SELECT CAST(n AS DOUBLE) AS n_d, CAST(sx AS DOUBLE) AS sx_d,
            CASE WHEN CAST(n AS DECIMAL(33,0))*sxx
                      - CAST(sx AS DECIMAL(33,0))*sx = 0
                 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(CAST(n AS DECIMAL(33,0))*sxy
                      - CAST(sx AS DECIMAL(33,0))*sy AS DOUBLE) /
                 CAST(CAST(n AS DECIMAL(33,0))*sxx
                      - CAST(sx AS DECIMAL(33,0))*sx AS DOUBLE)
                 END AS theta
          FROM g),
        a AS (
          SELECT armb, CAST(count(*) AS BIGINT) AS n_users,
            CAST(sum(CAST(pre AS DECIMAL(16,0))) AS DOUBLE) AS apre,
            CAST(sum(CAST(post AS DECIMAL(16,0))) AS DOUBLE) AS apost
          FROM u GROUP BY armb)
        SELECT CASE WHEN armb = 0 THEN 'A' ELSE 'B' END AS arm,
          n_users,
          round(apost / CAST(n_users AS DOUBLE) / 1e2, 6) AS mean_post,
          round(apre / CAST(n_users AS DOUBLE) / 1e2, 6) AS mean_pre,
          round(theta, 6) AS theta,
          round((apost / CAST(n_users AS DOUBLE)
                 - theta * (apre / CAST(n_users AS DOUBLE) - sx_d / n_d))
                / 1e2, 6) AS adj_mean
        FROM a, th ORDER BY arm"""
  }

  /** Shared staleness SQL (stream_feature_staleness): per-user max,
    * watermark broadcast, day-grid histogram + cumulative coverage;
    * engine-spliced epoch day. */
  private def stalenessSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH u AS (
          SELECT user_id, CAST(max($day) AS BIGINT) AS last_d
          FROM $table GROUP BY user_id),
        w AS (SELECT CAST(max(last_d) AS BIGINT) AS wm FROM u),
        h AS (
          SELECT CAST(w.wm - u.last_d AS BIGINT) AS staleness_days,
            count(*) AS n_users
          FROM u, w GROUP BY 1),
        t AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_tot FROM h)
        SELECT h.staleness_days, CAST(h.n_users AS BIGINT) AS n_users,
          round(CAST(sum(h.n_users) OVER (ORDER BY h.staleness_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) / CAST(t.n_tot AS DOUBLE), 6) AS cum_coverage
        FROM h, t ORDER BY staleness_days"""
  }

  /** Shared MERGE SQL (cdc_merge_into): deterministic source drift
    * (the cdc_table_diff construction), one full outer join,
    * identical text on both engines. */
  private def mergeIntoSql(table: String): String =
    s"""WITH tgt AS (
          SELECT o_orderkey AS k, o_orderstatus AS st,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
          FROM $table),
        src AS (
          SELECT CASE WHEN k % 103 = 0 THEN k + 4398046511104
                      ELSE k END AS k,
            CASE WHEN k % 101 = 0 THEN 'X' ELSE st END AS st,
            price_c
          FROM tgt WHERE k % 97 <> 0),
        m AS (
          SELECT coalesce(s.k, t.k) AS k,
            s.k IS NOT NULL AS in_src, t.k IS NOT NULL AS in_tgt,
            s.st AS s_st, t.st AS t_st,
            coalesce(s.price_c, t.price_c) AS price_c
          FROM src s FULL OUTER JOIN tgt t ON s.k = t.k)
        SELECT k AS o_orderkey,
          CASE WHEN in_src AND in_tgt AND s_st <> t_st THEN 'update'
               WHEN in_src AND in_tgt THEN 'keep'
               ELSE 'insert' END AS action,
          CASE WHEN in_src THEN s_st ELSE t_st END AS o_orderstatus,
          price_c
        FROM m
        WHERE in_src
        ORDER BY k"""

  /** Shared 3-step path SQL (stream_path_triples): two leads per
    * user sequence, bounded triple relation, global top-10;
    * engine-spliced epoch-us only for the ordering column. */
  private def pathTriplesSql(table: String, spark: Boolean): String = {
    val us =
      if (spark) "unix_micros(ts)"
      else "epoch_us(CAST(ts AS TIMESTAMP))"
    s"""WITH e AS (
          SELECT user_id, $us AS tus, event_id, event_type
          FROM $table),
        seq AS (
          SELECT event_type AS t1,
            lead(event_type, 1) OVER w AS t2,
            lead(event_type, 2) OVER w AS t3
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        trip AS (
          SELECT t1, t2, t3, count(*) AS n
          FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
          GROUP BY 1, 2, 3),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM trip),
        r AS (
          SELECT t1, t2, t3, CAST(n AS BIGINT) AS n,
            row_number() OVER (ORDER BY n DESC, t1, t2, t3) AS rnk
          FROM trip)
        SELECT CAST(r.rnk AS INTEGER) AS rnk,
          r.t1 || '>' || r.t2 || '>' || r.t3 AS path, r.n,
          round(CAST(r.n AS DOUBLE) / CAST(tot.n_tot AS DOUBLE), 6)
            AS share
        FROM r, tot WHERE r.rnk <= 10
        ORDER BY rnk"""
  }

  /** Shared growth-accounting SQL (stream_growth_accounting):
    * lag/lead classification over per-user activity days;
    * engine-spliced epoch day. */
  private def growthSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH act AS (
          SELECT DISTINCT user_id, CAST($day AS INTEGER) AS eday
          FROM $table),
        seq AS (
          SELECT user_id, eday,
            lag(eday) OVER w AS prev_d, lead(eday) OVER w AS next_d
          FROM act
          WINDOW w AS (PARTITION BY user_id ORDER BY eday)),
        byday AS (
          SELECT eday,
            count(*) AS dau,
            CAST(sum(CASE WHEN prev_d IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new,
            CAST(sum(CASE WHEN prev_d = eday - 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
            CAST(sum(CASE WHEN prev_d IS NOT NULL
                 AND prev_d < eday - 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
          FROM seq GROUP BY eday),
        churn AS (
          SELECT eday + 1 AS eday,
            CAST(sum(CASE WHEN next_d IS NULL OR next_d > eday + 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
          FROM seq GROUP BY eday + 1)
        SELECT CAST(b.eday AS INTEGER) AS eday,
          CAST(b.dau AS BIGINT) AS dau,
          b.n_new, b.n_retained, b.n_resurrected,
          CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned
        FROM byday b LEFT JOIN churn c ON b.eday = c.eday
        ORDER BY eday"""
  }

  // ---- r22 OPTIMIZATION: session-memoized 30 m session intervals ----
  //
  // stream_peak_concurrency's plan re-derived the sessionize subtree
  // (user-keyed exchange + lag + running-sum windows + the session
  // aggregate) FIVE times — once per `sess`/`edges` CTE reference —
  // and stream_bounce_rate rebuilt the identical relation once more
  // per call. The per-session interval table (user_id, sid, s_us,
  // e_us, n_events) is exactly the session state a production
  // streaming pipeline maintains (the same 30 m sessions win_session
  // materializes), so it is a session memo ([[Memo]]). Oracle SQL
  // unchanged (self-contained) — the driver's hash gate re-proves
  // both restructured Spark sides; OperatorSpec pins restructured ≡
  // monolithic row-for-row.

  /** Registers `graft_sess30` (user_id, sid, s_us, e_us, n_events) —
    * the materialized 30 m session-interval relation with the
    * (tus, event_id) tiebreak both consumers use. */
  private def sess30View(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    val ev = Tables.events(s, d).select("user_id", "ts", "event_id")
    Memo.frame("sess30", ev) {
      ev.createOrReplaceTempView("graft_ev_sess30")
      s.sql(
        """SELECT user_id, sid, min(tus) AS s_us, max(tus) AS e_us,
             CAST(count(*) AS BIGINT) AS n_events
           FROM (
             SELECT user_id, tus, event_id,
               sum(new_s) OVER (PARTITION BY user_id
                 ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM (
               SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                            OR tus - lag(tus) OVER w >= 1800000000
                          THEN 1 ELSE 0 END AS new_s
               FROM (SELECT user_id, unix_micros(ts) AS tus, event_id
                     FROM graft_ev_sess30) e
               WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
             ) flagged) sess0
           GROUP BY user_id, sid""")
    }.createOrReplaceTempView("graft_sess30")
  }

  /** Shared bounce-rate SQL (stream_bounce_rate): the win_session
    * sessionization with an event_id tiebreak, collapsed to a daily
    * rate; engine-spliced epoch-us and integer division. */
  private[graft] def bounceSql(table: String, spark: Boolean): String = {
    val us =
      if (spark) "unix_micros(ts)"
      else "epoch_us(CAST(ts AS TIMESTAMP))"
    val dayDiv = if (spark) "DIV" else "//"
    s"""WITH e AS (
          SELECT user_id, $us AS tus, event_id FROM $table),
        flagged AS (
          SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w >= 1800000000
                     THEN 1 ELSE 0 END AS new_s
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        sess AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id
            ORDER BY tus, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged),
        g AS (
          SELECT user_id, sid, min(tus) AS start_us,
            count(*) AS n_events
          FROM sess GROUP BY user_id, sid),
        ${bounceTailSql(dayDiv)}"""
  }

  /** r22: Spark side over the memoized session-interval relation
    * ([[sess30View]]) — same tail, `g` reads the materialized view. */
  private def bounceSparkSql: String =
    s"""WITH g AS (
          SELECT user_id, sid, s_us AS start_us, n_events
          FROM graft_sess30),
        ${bounceTailSql("DIV")}"""

  private def bounceTailSql(dayDiv: String): String =
    s"""d AS (
          SELECT CAST(start_us $dayDiv 86400000000 AS BIGINT) AS eday,
            count(*) AS n_sessions,
            CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_bounced
          FROM g GROUP BY 1)
        SELECT eday, CAST(n_sessions AS BIGINT) AS n_sessions,
          n_bounced,
          round(CAST(n_bounced AS DOUBLE) / CAST(n_sessions AS DOUBLE),
            6) AS bounce_rate
        FROM d ORDER BY eday"""

  /** Shared incident-extraction SQL (stream_outage_mttr):
    * gaps-and-islands over breach hours; engine-spliced epoch hour. */
  private def mttrSql(table: String, spark: Boolean): String = {
    val hour =
      if (spark) "unix_micros(ts) DIV 3600000000"
      else "epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000"
    s"""WITH hourly AS (
          SELECT CAST($hour AS BIGINT) AS h,
            CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errs,
            count(*) AS total
          FROM $table GROUP BY 1),
        r AS (
          SELECT h, errs, total,
            round(CAST(errs AS DOUBLE) / CAST(total AS DOUBLE), 6)
              AS rate
          FROM hourly),
        breach AS (
          SELECT h, rate,
            h - row_number() OVER (ORDER BY h) AS grp
          FROM r WHERE rate > 25e-2)
        SELECT CAST(min(h) AS BIGINT) AS start_h,
          CAST(max(h) AS BIGINT) AS end_h,
          CAST(max(h) - min(h) + 1 AS BIGINT) AS duration_h,
          max(rate) AS peak_rate
        FROM breach GROUP BY grp
        ORDER BY start_h"""
  }

  /** Shared peak-concurrency SQL (stream_peak_concurrency): the
    * sweep-line over session [start,end] intervals, decomposed so no
    * window ever sees more than one HOUR of one day's edges — the
    * llm_token_budget two-level-cumsum discipline applied to a
    * sweep: within-(day,hour) running sums + a 24-row per-day hourly
    * offset window + a carried-in base from sessions that straddle
    * the day boundary (exploded once per spanned day, bounded by the
    * session's day span). Engine-spliced epoch-us, integer division
    * and the sequence/generate_series explode. All-integer. */
  private[graft] def concurrencySql(table: String, spark: Boolean): String = {
    val us =
      if (spark) "unix_micros(ts)"
      else "epoch_us(CAST(ts AS TIMESTAMP))"
    s"""WITH e AS (
          SELECT user_id, $us AS tus, event_id FROM $table),
        flagged AS (
          SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w >= 1800000000
                     THEN 1 ELSE 0 END AS new_s
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        sess0 AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id
            ORDER BY tus, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged),
        sess AS (
          SELECT user_id, sid, min(tus) AS s_us, max(tus) AS e_us
          FROM sess0 GROUP BY user_id, sid),
        ${concurrencyTailSql(spark)}"""
  }

  /** r22: Spark side over the memoized session-interval relation
    * ([[sess30View]]) — same tail, `sess` is the materialized view.
    * The inline form re-derived the sessionize subtree (user-keyed
    * exchange + lag + running-sum windows + the session aggregate)
    * FIVE times in the plan, once per `sess`/`edges` reference. */
  private def concurrencySparkSql: String =
    s"""WITH sess AS (SELECT user_id, sid, s_us, e_us FROM graft_sess30),
        ${concurrencyTailSql(spark = true)}"""

  private def concurrencyTailSql(spark: Boolean): String = {
    val div = if (spark) "DIV" else "//"
    val spanDays =
      if (spark)
        """SELECT sd.d AS d FROM sess
             LATERAL VIEW explode(sequence(s_us DIV 86400000000 + 1,
               e_us DIV 86400000000)) sd AS d
           WHERE e_us DIV 86400000000 > s_us DIV 86400000000"""
      else
        """SELECT sd.d AS d FROM sess
             CROSS JOIN unnest(generate_series(s_us // 86400000000 + 1,
               e_us // 86400000000)) AS sd(d)
           WHERE e_us // 86400000000 > s_us // 86400000000"""
    s"""base AS (
          SELECT CAST(d AS BIGINT) AS d,
            CAST(count(*) AS BIGINT) AS base_n
          FROM ($spanDays) GROUP BY d),
        edges AS (
          SELECT CAST(s_us $div 86400000000 AS BIGINT) AS d,
            CAST((s_us % 86400000000) $div 3600000000 AS BIGINT) AS h,
            s_us AS t, 1 AS delta, user_id, sid FROM sess
          UNION ALL
          SELECT CAST(e_us $div 86400000000 AS BIGINT),
            CAST((e_us % 86400000000) $div 3600000000 AS BIGINT),
            e_us, -1, user_id, sid FROM sess),
        c AS (
          SELECT d, h, delta,
            sum(delta) OVER (PARTITION BY d, h
              ORDER BY t, delta, user_id, sid
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cwithin
          FROM edges),
        htot AS (
          SELECT d, h, CAST(sum(delta) AS BIGINT) AS hsum
          FROM edges GROUP BY d, h),
        hoff AS (
          SELECT d, h, CAST(coalesce(sum(hsum) OVER (PARTITION BY d
            ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS hprev
          FROM htot),
        peaks AS (
          SELECT c.d, max(c.cwithin + o.hprev) AS peak_delta,
            CAST(sum(CASE WHEN c.delta = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_started
          FROM c JOIN hoff o ON c.d = o.d AND c.h = o.h
          GROUP BY c.d)
        SELECT CAST(coalesce(p.d, b.d) AS BIGINT) AS eday,
          CAST(coalesce(b.base_n, 0) AS BIGINT) AS carried_in,
          CAST(coalesce(p.n_started, 0) AS BIGINT) AS n_started,
          CAST(greatest(coalesce(b.base_n, 0),
            coalesce(b.base_n, 0) + coalesce(p.peak_delta, 0))
            AS BIGINT) AS peak_concurrency
        FROM peaks p FULL OUTER JOIN base b ON p.d = b.d
        ORDER BY eday"""
  }

  /** Shared stickiness SQL (stream_stickiness): DAU/WAU via a
    * bounded ×7 forward explode of the per-user activity-day
    * relation (each user-day supports exactly the 7 window days it
    * can appear in — rolling COUNT(DISTINCT) without a distinct
    * window frame, which neither engine has). Engine-spliced epoch
    * day and sequence/generate_series. */
  private def stickinessSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    val explode =
      if (spark)
        """SELECT DISTINCT act.user_id, wd.d AS d FROM act
             LATERAL VIEW explode(sequence(a, a + 6)) wd AS d"""
      else
        """SELECT DISTINCT act.user_id, wd.d AS d FROM act
             CROSS JOIN unnest(generate_series(a, a + 6)) AS wd(d)"""
    s"""WITH act AS (
          SELECT DISTINCT user_id, CAST($day AS BIGINT) AS a
          FROM $table),
        win AS ($explode),
        wau AS (
          SELECT d, CAST(count(*) AS BIGINT) AS wau
          FROM win GROUP BY d),
        dau AS (
          SELECT a AS d, CAST(count(*) AS BIGINT) AS dau
          FROM act GROUP BY a)
        SELECT CAST(dau.d AS BIGINT) AS eday, dau.dau, wau.wau,
          round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
            AS stickiness
        FROM dau JOIN wau ON dau.d = wau.d
        ORDER BY eday"""
  }

  /** Shared inter-arrival SQL (stream_interarrival): per-(user, type)
    * consecutive gaps in µs, DECIMAL(19,0)-squared moment sums (a
    * month-scale gap squares to ~7e24 — past BIGINT, inside
    * the DECIMAL(38,0) product), exact-moment variance identity, fixed
    * IEEE finish. Engine-spliced epoch-us. */
  private def interarrivalSql(table: String, spark: Boolean): String = {
    val us =
      if (spark) "unix_micros(ts)"
      else "epoch_us(CAST(ts AS TIMESTAMP))"
    s"""WITH e AS (
          SELECT user_id, event_type, $us AS tus, event_id
          FROM $table),
        d AS (
          SELECT event_type, tus - lag(tus) OVER w AS delta
          FROM e
          WINDOW w AS (PARTITION BY user_id, event_type
            ORDER BY tus, event_id)),
        dd AS (SELECT event_type, delta FROM d WHERE delta IS NOT NULL),
        m AS (
          SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
            CAST(count(*) AS BIGINT) AS n_gaps,
            CAST(sum(CAST(delta AS DECIMAL(18,0))) AS DOUBLE) AS sx,
            CAST(sum(CAST(delta AS DECIMAL(19,0))
              * CAST(delta AS DECIMAL(19,0))) AS DOUBLE) AS sxx
          FROM dd GROUP BY event_type)
        SELECT event_type, n_gaps,
          round(sx / n / 1000000, 6) AS mean_s,
          CASE WHEN n < 2 THEN NULL ELSE
            round(sqrt((n * sxx - sx * sx) / (n * (n - 1))) / 1000000, 6)
          END AS sd_s,
          CASE WHEN n < 2 OR sx = 0 THEN NULL ELSE
            round(sqrt((n * sxx - sx * sx) / (n * (n - 1))) / (sx / n), 6)
          END AS cv,
          CASE WHEN n < 2 OR sx = 0 THEN NULL ELSE
            round((sqrt((n * sxx - sx * sx) / (n * (n - 1))) - sx / n)
              / (sqrt((n * sxx - sx * sx) / (n * (n - 1))) + sx / n), 6)
          END AS burstiness
        FROM m ORDER BY event_type"""
  }

  /** Shared Welch t-test SQL (stream_ab_ttest). Engine-spliced md5
    * arm bucket; moments and finish identical text. Variance uses
    * the exact-int identity v = (n·sxx − sx²)/(n·(n−1)) in cents²,
    * rescaled by 1e4 to currency units. */
  private def ttestSql(table: String, spark: Boolean): String = {
    val arm =
      if (spark)
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"
      else
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
    s"""WITH u AS (
          SELECT user_id, $arm AS armb,
            CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS cents
          FROM $table GROUP BY user_id),
        g AS (
          SELECT armb,
            CAST(count(*) AS DECIMAL(11,0)) AS n,
            CAST(sum(CAST(cents AS DECIMAL(16,0))) AS DECIMAL(16,0)) AS sx,
            CAST(sum(CAST(cents*cents AS DECIMAL(21,0)))
              AS DECIMAL(21,0)) AS sxx
          FROM u GROUP BY armb),
        d AS (
          SELECT armb, CAST(n AS DOUBLE) AS n_d,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS mean_rev,
            CASE WHEN n < 2 THEN NULL ELSE
              CAST(CAST(n AS DECIMAL(33,0))*sxx
                   - CAST(sx AS DECIMAL(33,0))*sx AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0))
                / 1e4
            END AS var_rev
          FROM g),
        p AS (
          SELECT
            CAST(a.n_d AS BIGINT) AS n_a, CAST(b.n_d AS BIGINT) AS n_b,
            round(a.mean_rev, 6) AS mean_a, round(b.mean_rev, 6) AS mean_b,
            CASE WHEN a.var_rev / a.n_d + b.var_rev / b.n_d = 0 THEN NULL
              ELSE (a.mean_rev - b.mean_rev)
                / sqrt(a.var_rev / a.n_d + b.var_rev / b.n_d)
            END AS t,
            CASE WHEN a.var_rev / a.n_d + b.var_rev / b.n_d = 0 THEN NULL
              ELSE ((a.var_rev / a.n_d + b.var_rev / b.n_d)
               * (a.var_rev / a.n_d + b.var_rev / b.n_d))
                / ((a.var_rev / a.n_d) * (a.var_rev / a.n_d) / (a.n_d - 1e0)
                 + (b.var_rev / b.n_d) * (b.var_rev / b.n_d) / (b.n_d - 1e0))
            END AS df
          FROM d a, d b WHERE a.armb = 0 AND b.armb = 1)
        SELECT n_a, n_b, mean_a, mean_b,
          round(t, 6) AS t_stat, round(df, 6) AS df,
          abs(round(t, 6)) >= 196e-2 AS significant
        FROM p"""
  }

  /** Shared delta-method ratio-metric SQL (stream_ab_ratio_delta):
    * per-user (revenue, clicks) pairs, per-arm exact DECIMAL moments
    * (ttestSql widths), delta-method variance of R = Σx/Σy, fixed
    * IEEE finish on a 1-row relation. Engine-spliced md5 arm. */
  private def ratioDeltaSql(table: String, spark: Boolean): String = {
    val arm =
      if (spark)
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"
      else
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
    s"""WITH u AS (
          SELECT user_id, $arm AS armb,
            CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS x,
            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
          FROM $table GROUP BY user_id),
        g AS (
          SELECT armb,
            CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(CAST(x AS DECIMAL(16,0))) AS DOUBLE) AS sx,
            CAST(sum(CAST(y AS DECIMAL(16,0))) AS DOUBLE) AS sy,
            CAST(sum(CAST(x*x AS DECIMAL(21,0))) AS DOUBLE) AS sxx,
            CAST(sum(CAST(x*y AS DECIMAL(21,0))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(y*y AS DECIMAL(21,0))) AS DOUBLE) AS syy
          FROM u GROUP BY armb),
        d AS (
          SELECT armb, n,
            CASE WHEN sy = 0 THEN NULL ELSE sx / sy END AS r,
            CASE WHEN sy = 0 OR n < 2 THEN NULL ELSE
              ((n*sxx - sx*sx)/(n*(n-1e0))
               - 2e0*(sx/sy)*((n*sxy - sx*sy)/(n*(n-1e0)))
               + (sx/sy)*(sx/sy)*((n*syy - sy*sy)/(n*(n-1e0))))
              / (n * (sy/n) * (sy/n))
            END AS vr
          FROM g),
        p AS (
          SELECT a.r / 1e2 AS r_a, b.r / 1e2 AS r_b,
            (a.r - b.r) / 1e2 AS rdiff,
            CASE WHEN a.vr + b.vr = 0 THEN NULL
              ELSE (a.r - b.r) / sqrt(a.vr + b.vr)
            END AS z
          FROM d a, d b WHERE a.armb = 0 AND b.armb = 1)
        SELECT round(r_a, 6) AS rev_per_click_a,
          round(r_b, 6) AS rev_per_click_b,
          round(rdiff, 6) AS rdiff, round(z, 6) AS z_stat,
          abs(round(z, 6)) >= 196e-2 AS significant
        FROM p"""
  }

  /** Shared mix-drift SQL (stream_mix_drift): daily event-type mix
    * entropy + Jensen–Shannon divergence vs the previous day; all
    * math on the bounded |days|·|types| relation, ln terms summed
    * within one 6dp round (entropySql precedent). Engine-spliced
    * epoch day. */
  private def mixDriftSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH daily AS (
          SELECT CAST($day AS BIGINT) AS d, event_type,
            CAST(count(*) AS BIGINT) AS n
          FROM $table GROUP BY 1, 2),
        tot AS (
          SELECT d, CAST(sum(n) AS BIGINT) AS t FROM daily GROUP BY d),
        p AS (
          SELECT daily.d, event_type,
            CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
          FROM daily JOIN tot ON daily.d = tot.d),
        ent AS (
          SELECT d, round(-sum(p * ln(p)), 6) AS entropy
          FROM p GROUP BY d),
        j AS (
          SELECT coalesce(a.d, b.d + 1) AS d,
            coalesce(a.p, 0e0) AS pa, coalesce(b.p, 0e0) AS pb
          FROM p a FULL JOIN p b
            ON a.event_type = b.event_type AND a.d = b.d + 1),
        jsd AS (
          SELECT d, round(sum(
              CASE WHEN pa > 0e0
                THEN 5e-1 * pa * ln(pa / ((pa + pb) / 2e0))
                ELSE 0e0 END
            + CASE WHEN pb > 0e0
                THEN 5e-1 * pb * ln(pb / ((pa + pb) / 2e0))
                ELSE 0e0 END), 6) AS jsd_prev
          FROM j
          WHERE d > (SELECT min(d) FROM tot)
            AND d <= (SELECT max(d) FROM tot)
          GROUP BY d)
        SELECT ent.d AS eday, tot.t AS n_events, ent.entropy,
          jsd.jsd_prev
        FROM ent JOIN tot ON ent.d = tot.d
          LEFT JOIN jsd ON ent.d = jsd.d
        ORDER BY eday"""
  }

  /** Shared new-vs-returning SQL (stream_new_vs_returning): per-user
    * first-day collapse, events re-join on the SAME user key
    * (co-partitioned), per-day class split; exact cents, one IEEE
    * share. Engine-spliced epoch day. */
  private def newVsReturningSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH e AS (
          SELECT user_id, CAST($day AS BIGINT) AS d,
            CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100, 0) AS BIGINT)
              ELSE 0 END AS cents
          FROM $table),
        ud AS (
          SELECT user_id, d, CAST(sum(cents) AS BIGINT) AS cents
          FROM e GROUP BY user_id, d),
        f AS (
          SELECT user_id, min(d) AS fd FROM ud GROUP BY user_id),
        c AS (
          SELECT ud.d, ud.cents,
            CASE WHEN ud.d = f.fd THEN 1 ELSE 0 END AS is_new
          FROM ud JOIN f ON ud.user_id = f.user_id)
        SELECT CAST(d AS BIGINT) AS eday,
          CAST(sum(is_new) AS BIGINT) AS dau_new,
          CAST(sum(1 - is_new) AS BIGINT) AS dau_returning,
          CAST(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
            AS BIGINT) AS rev_new_c,
          CAST(sum(CASE WHEN is_new = 0 THEN cents ELSE 0 END)
            AS BIGINT) AS rev_returning_c,
          CASE WHEN sum(cents) = 0 THEN NULL
            ELSE round(CAST(sum(CASE WHEN is_new = 1 THEN cents
                 ELSE 0 END) AS DOUBLE)
              / CAST(sum(cents) AS DOUBLE), 6) END AS new_rev_share
        FROM c GROUP BY d ORDER BY eday"""
  }

  /** Shared traffic-heatmap SQL (stream_heatmap_dow_hour): pure
    * integer dow/hour cells (epoch arithmetic — no engine week/tz
    * conventions), bounded 7×24 relation. Engine-spliced epoch-us
    * and integer division. */
  private def heatmapSql(table: String, spark: Boolean): String = {
    val us =
      if (spark) "unix_micros(ts)"
      else "epoch_us(CAST(ts AS TIMESTAMP))"
    val div = if (spark) "DIV" else "//"
    s"""WITH e AS (
          SELECT ($us $div 86400000000 + 4) % 7 AS dow,
            ($us % 86400000000) $div 3600000000 AS hour
          FROM $table),
        cell AS (
          SELECT dow, hour, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY dow, hour),
        t AS (
          SELECT dow, CAST(sum(n) AS BIGINT) AS tot,
            CAST(max(n) AS BIGINT) AS mx
          FROM cell GROUP BY dow)
        SELECT CAST(cell.dow AS INTEGER) AS dow,
          CAST(cell.hour AS INTEGER) AS hour, cell.n,
          round(CAST(cell.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
            AS share_of_dow,
          cell.n = t.mx AS is_peak
        FROM cell JOIN t ON cell.dow = t.dow
        ORDER BY dow, hour"""
  }

  /** Shared tombstone-GC SQL (cdc_tombstone_gc): per-pk lead over
    * the envelope's event order classifies every delete as live
    * tombstone vs resurrected; GC-safety against the corpus
    * watermark minus a 7-day retention. Engine-spliced epoch-us and
    * integer division. */
  private def tombstoneGcSql(table: String, spark: Boolean): String = {
    val us =
      if (spark) "unix_micros(ts)"
      else "epoch_us(CAST(ts AS TIMESTAMP))"
    val div = if (spark) "DIV" else "//"
    s"""WITH e AS (
          SELECT user_id AS pk, $us AS tus, event_id AS pos,
            CASE WHEN event_type = 'signup' THEN 'I'
                 WHEN event_type = 'error' THEN 'D'
                 ELSE 'U' END AS op
          FROM $table),
        w AS (SELECT max(tus) AS wm FROM e),
        r AS (
          SELECT pk, tus, op,
            lead(tus) OVER (PARTITION BY pk ORDER BY tus, pos)
              AS next_t
          FROM e),
        cls AS (
          SELECT CAST(tus $div 86400000000 AS BIGINT) AS eday,
            CASE WHEN next_t IS NULL THEN 1 ELSE 0 END AS is_tomb,
            CASE WHEN next_t IS NULL
              AND w.wm - tus >= 604800000000 THEN 1 ELSE 0 END AS gc
          FROM r CROSS JOIN w WHERE op = 'D')
        SELECT eday, CAST(count(*) AS BIGINT) AS n_deletes,
          CAST(sum(is_tomb) AS BIGINT) AS n_tombstones,
          CAST(sum(gc) AS BIGINT) AS n_gc_safe,
          CAST(sum(1 - is_tomb) AS BIGINT) AS n_resurrected
        FROM cls GROUP BY eday ORDER BY eday"""
  }

  /** Shared user-concentration SQL (stream_user_lorenz): Lorenz
    * curve points on the per-user ACTIVITY-COUNT grid (support
    * bounded by max per-user activity, never user cardinality);
    * exact cumulative users/events/cents, IEEE shares. */
  private def userLorenzSql(table: String): String =
    s"""WITH u AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS cents
          FROM $table GROUP BY user_id),
        g AS (
          SELECT n, CAST(count(*) AS BIGINT) AS users,
            CAST(sum(n) AS BIGINT) AS events,
            CAST(sum(cents) AS BIGINT) AS cents
          FROM u GROUP BY n),
        cum AS (
          SELECT n, users, events, cents,
            sum(users) OVER wd AS cu,
            sum(events) OVER wd AS ce,
            sum(cents) OVER wd AS cc,
            sum(users) OVER () AS tu,
            sum(events) OVER () AS te,
            sum(cents) OVER () AS tc
          FROM g
          WINDOW wd AS (ORDER BY n DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT CAST(n AS BIGINT) AS activity, users,
          round(CAST(cu AS DOUBLE) / CAST(tu AS DOUBLE), 6)
            AS cum_user_share,
          round(CAST(ce AS DOUBLE) / CAST(te AS DOUBLE), 6)
            AS cum_event_share,
          round(CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE), 6)
            AS cum_rev_share
        FROM cum ORDER BY activity DESC"""

  /** Shared streaks SQL (stream_streaks): per-user consecutive-day
    * islands (gaps-and-islands at the (user, day) grain), collapsed
    * to each user's longest streak, reported as a bounded histogram.
    * Engine-spliced epoch day. */
  private def streaksSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH act AS (
          SELECT DISTINCT user_id, CAST($day AS BIGINT) AS d
          FROM $table),
        grp AS (
          SELECT user_id, d,
            d - row_number() OVER (PARTITION BY user_id ORDER BY d)
              AS g
          FROM act),
        streak AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS len
          FROM grp GROUP BY user_id, g),
        best AS (
          SELECT user_id, CAST(max(len) AS BIGINT) AS best
          FROM streak GROUP BY user_id),
        t AS (SELECT CAST(count(*) AS BIGINT) AS tu FROM best)
        SELECT best AS streak_days,
          CAST(count(*) AS BIGINT) AS n_users,
          round(CAST(count(*) AS DOUBLE) / CAST(min(t.tu) AS DOUBLE), 6)
            AS user_share
        FROM best CROSS JOIN t
        GROUP BY best ORDER BY streak_days"""
  }

  /** Shared A/A calibration SQL (stream_ab_aa_calibration): 16
    * salted null splits, Welch t per split from exact DECIMAL
    * moments (ttestSql widths), false-positive rate at |t| ≥ 1.96.
    * Engine-spliced md5 bucket. */
  private def aaCalibrationSql(table: String, spark: Boolean): String = {
    val armK =
      if (spark)
        "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':', CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2"
      else
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
    val ks =
      if (spark) "LATERAL VIEW explode(sequence(0, 15)) kt AS k"
      else "CROSS JOIN unnest(generate_series(0, 15)) AS kt(k)"
    s"""WITH u AS (
          SELECT user_id,
            CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS cents
          FROM $table GROUP BY user_id),
        uk AS (
          SELECT user_id, cents, kt.k AS k, $armK AS armb
          FROM u $ks),
        g AS (
          SELECT k, armb,
            CAST(count(*) AS DECIMAL(11,0)) AS n,
            CAST(sum(CAST(cents AS DECIMAL(16,0))) AS DECIMAL(16,0))
              AS sx,
            CAST(sum(CAST(cents*cents AS DECIMAL(21,0)))
              AS DECIMAL(21,0)) AS sxx
          FROM uk GROUP BY k, armb),
        d AS (
          SELECT k, armb, CAST(n AS DOUBLE) AS n_d,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
            CASE WHEN n < 2 THEN NULL ELSE
              CAST(CAST(n AS DECIMAL(33,0))*sxx
                   - CAST(sx AS DECIMAL(33,0))*sx AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0))
            END AS var_c
          FROM g),
        t AS (
          SELECT a.k,
            CASE WHEN a.var_c / a.n_d + b.var_c / b.n_d = 0 THEN NULL
              ELSE round(abs((a.mean_c - b.mean_c)
                / sqrt(a.var_c / a.n_d + b.var_c / b.n_d)), 6)
            END AS abs_t
          FROM d a JOIN d b ON a.k = b.k
          WHERE a.armb = 0 AND b.armb = 1)
        SELECT CAST(count(*) AS BIGINT) AS n_splits,
          CAST(sum(CASE WHEN abs_t >= 196e-2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positive,
          round(CAST(sum(CASE WHEN abs_t >= 196e-2 THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fp_rate,
          round(max(abs_t), 6) AS max_abs_t
        FROM t"""
  }

  /** Shared Apdex SQL (stream_apdex): satisfied/tolerating/
    * frustrated on the value column against fixed thresholds,
    * per-day score. Engine-spliced epoch day. */
  private def apdexSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH e AS (
          SELECT CAST($day AS BIGINT) AS d,
            CAST(round(value * 100, 0) AS BIGINT) AS v
          FROM $table WHERE event_type = 'view'),
        c AS (
          SELECT d, count(*) AS total,
            CAST(sum(CASE WHEN v <= 2500 THEN 1 ELSE 0 END)
              AS BIGINT) AS sat,
            CAST(sum(CASE WHEN v > 2500 AND v <= 10000 THEN 1
              ELSE 0 END) AS BIGINT) AS tol
          FROM e GROUP BY d)
        SELECT d AS eday, CAST(total AS BIGINT) AS n_samples,
          sat AS n_satisfied, tol AS n_tolerating,
          CAST(total - sat - tol AS BIGINT) AS n_frustrated,
          round((CAST(sat AS DOUBLE) + CAST(tol AS DOUBLE) / 2e0)
            / CAST(total AS DOUBLE), 6) AS apdex
        FROM c ORDER BY eday"""
  }

  /** Shared exposure-drift SQL (stream_ab_exposure_drift): daily
    * distinct exposures per arm, per-day one-df chi-squared vs
    * 50/50. Engine-spliced md5 arm and epoch day. */
  private def exposureDriftSql(table: String, spark: Boolean): String = {
    val arm =
      if (spark)
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"
      else
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH u AS (
          SELECT DISTINCT CAST($day AS BIGINT) AS d, user_id,
            $arm AS armb
          FROM $table),
        c AS (
          SELECT d,
            CAST(sum(CASE WHEN armb = 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_a,
            CAST(sum(CASE WHEN armb = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_b
          FROM u GROUP BY d)
        SELECT d AS eday, n_a, n_b,
          round(CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE), 6)
            AS share_a,
          round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
            / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
          CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
            / CAST(n_a + n_b AS DOUBLE) >= 3841e-3 AS srm_breach
        FROM c ORDER BY eday"""
  }

  /** Shared overdispersion SQL (agg_overdispersion for events): per-
    * (user, type) counts, exact integer moments, variance/mean index
    * with the Poisson verdict. */
  private def overdispersionSql(table: String): String =
    s"""WITH u AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
          FROM $table GROUP BY user_id, event_type),
        m AS (
          SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
            CAST(count(*) AS BIGINT) AS n_users,
            CAST(sum(CAST(c AS DECIMAL(18,0))) AS DOUBLE) AS sx,
            CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx
          FROM u GROUP BY event_type)
        SELECT event_type, n_users,
          round(sx / n, 6) AS mean_c,
          CASE WHEN n < 2 THEN NULL ELSE
            round((n * sxx - sx * sx) / (n * (n - 1e0)), 6)
          END AS var_c,
          CASE WHEN n < 2 THEN NULL ELSE
            round(((n * sxx - sx * sx) / (n * (n - 1e0))) / (sx / n), 6)
          END AS dispersion,
          CASE WHEN n < 2 THEN NULL ELSE
            ((n * sxx - sx * sx) / (n * (n - 1e0))) / (sx / n) > 15e-1
          END AS overdispersed
        FROM m ORDER BY event_type"""

  /** Shared Poisson-bootstrap SQL (stream_bootstrap_ci): 32
    * content-keyed Poisson(1) replicates of the per-user revenue
    * mean; weights from an md5-uniform CASE ladder with shared
    * cumulative-CDF literals; replicate means are exact-int weighted
    * sums + one IEEE division; CI = rank cut on the 32-row relation.
    * Engine-spliced md5 uniform and the replicate explode. */
  private def bootstrapCiSql(table: String, spark: Boolean): String = {
    val u01 =
      if (spark)
        "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':', CAST(k AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296e0"
      else
        "CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296e0"
    val ks =
      if (spark) "LATERAL VIEW explode(sequence(0, 31)) kt AS k"
      else "CROSS JOIN unnest(generate_series(0, 31)) AS kt(k)"
    s"""WITH u AS (
          SELECT user_id,
            CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS cents
          FROM $table GROUP BY user_id),
        uk AS (
          SELECT user_id, cents, kt.k AS k, $u01 AS u01
          FROM u $ks),
        wt AS (
          SELECT k, cents,
            CASE WHEN u01 < 3678794412e-10 THEN 0
                 WHEN u01 < 7357588823e-10 THEN 1
                 WHEN u01 < 9196986029e-10 THEN 2
                 WHEN u01 < 9810118431e-10 THEN 3
                 WHEN u01 < 9963401532e-10 THEN 4
                 WHEN u01 < 9994058151e-10 THEN 5
                 WHEN u01 < 9999167589e-10 THEN 6
                 ELSE 7 END AS w
          FROM uk),
        rep AS (
          SELECT k,
            round(CAST(sum(CAST(w AS DECIMAL(16,0))
                * CAST(cents AS DECIMAL(16,0))) AS DOUBLE)
              / CAST(sum(w) AS DOUBLE) / 100, 6) AS m
          FROM wt GROUP BY k),
        r AS (
          SELECT m, row_number() OVER (ORDER BY m, k) AS rn
          FROM rep),
        pt AS (
          SELECT round(CAST(sum(CAST(cents AS DECIMAL(18,0)))
              AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100, 6) AS est
          FROM u)
        SELECT CAST(count(*) AS BIGINT) AS n_replicates,
          min(pt.est) AS point_est,
          round(CAST(sum(CAST(m AS DECIMAL(38,10))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS boot_mean,
          min(CASE WHEN rn = 2 THEN m END) AS ci_lo,
          min(CASE WHEN rn = 31 THEN m END) AS ci_hi
        FROM r CROSS JOIN pt"""
  }

  /** Shared bootstrap-diff SQL (stream_ab_bootstrap_diff): the
    * Poisson-bootstrap machinery applied to the ARM-MEAN DIFFERENCE
    * per replicate; same md5 arms as the battery, same content-keyed
    * weights as stream_bootstrap_ci. */
  private def bootstrapDiffSql(table: String, spark: Boolean): String = {
    val arm =
      if (spark)
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"
      else
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
    val u01 =
      if (spark)
        "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':', CAST(k AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296e0"
      else
        "CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296e0"
    val ks =
      if (spark) "LATERAL VIEW explode(sequence(0, 31)) kt AS k"
      else "CROSS JOIN unnest(generate_series(0, 31)) AS kt(k)"
    s"""WITH u AS (
          SELECT user_id, $arm AS armb,
            CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS cents
          FROM $table GROUP BY user_id),
        uk AS (
          SELECT user_id, armb, cents, kt.k AS k, $u01 AS u01
          FROM u $ks),
        wt AS (
          SELECT k, armb, cents,
            CASE WHEN u01 < 3678794412e-10 THEN 0
                 WHEN u01 < 7357588823e-10 THEN 1
                 WHEN u01 < 9196986029e-10 THEN 2
                 WHEN u01 < 9810118431e-10 THEN 3
                 WHEN u01 < 9963401532e-10 THEN 4
                 WHEN u01 < 9994058151e-10 THEN 5
                 WHEN u01 < 9999167589e-10 THEN 6
                 ELSE 7 END AS w
          FROM uk),
        rep AS (
          SELECT k, armb,
            round(CAST(sum(CAST(w AS DECIMAL(16,0))
                * CAST(cents AS DECIMAL(16,0))) AS DOUBLE)
              / CAST(sum(w) AS DOUBLE) / 100, 6) AS m
          FROM wt GROUP BY k, armb),
        dk AS (
          SELECT a.k, round(a.m - b.m, 6) AS diff
          FROM rep a JOIN rep b ON a.k = b.k
          WHERE a.armb = 0 AND b.armb = 1),
        r AS (
          SELECT diff, row_number() OVER (ORDER BY diff, k) AS rn
          FROM dk)
        SELECT CAST(count(*) AS BIGINT) AS n_replicates,
          round(CAST(sum(CAST(diff AS DECIMAL(38,10))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 6) AS boot_diff,
          min(CASE WHEN rn = 2 THEN diff END) AS ci_lo,
          min(CASE WHEN rn = 31 THEN diff END) AS ci_hi,
          min(CASE WHEN rn = 2 THEN diff END) > 0e0
            OR min(CASE WHEN rn = 31 THEN diff END) < 0e0
            AS significant
        FROM r"""
  }

  /** Shared group-sequential SQL (stream_ab_sequential): five
    * evenly-spaced looks over the date range, per-look Welch z from
    * exact DECIMAL moments (ttestSql widths), O'Brien–Fleming
    * two-sided α=0.05 boundaries as shared literals. Engine-spliced
    * md5 arm, epoch day, division and the look explode. */
  private def sequentialSql(table: String, spark: Boolean): String = {
    val arm =
      if (spark)
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"
      else
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    val div = if (spark) "DIV" else "//"
    val looks =
      if (spark) "LATERAL VIEW explode(sequence(1, 5)) lt AS look"
      else "CROSS JOIN unnest(generate_series(1, 5)) AS lt(look)"
    s"""WITH ud AS (
          SELECT user_id, $arm AS armb, CAST($day AS BIGINT) AS d,
            CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS cents
          FROM $table GROUP BY 1, 2, 3),
        rng AS (
          SELECT min(d) AS d0, max(d) AS d1 FROM ud),
        cut AS (
          SELECT lt.look AS look,
            rng.d0 + ((rng.d1 - rng.d0 + 1) * lt.look) $div 5 - 1
              AS cut_d
          FROM rng $looks),
        ul AS (
          SELECT cut.look, cut.cut_d, ud.user_id, ud.armb,
            CAST(sum(ud.cents) AS BIGINT) AS cents
          FROM ud JOIN cut ON ud.d <= cut.cut_d
          GROUP BY cut.look, cut.cut_d, ud.user_id, ud.armb),
        g AS (
          SELECT look, cut_d, armb,
            CAST(count(*) AS DECIMAL(11,0)) AS n,
            CAST(sum(CAST(cents AS DECIMAL(16,0))) AS DECIMAL(16,0))
              AS sx,
            CAST(sum(CAST(cents*cents AS DECIMAL(21,0)))
              AS DECIMAL(21,0)) AS sxx
          FROM ul GROUP BY look, cut_d, armb),
        dd AS (
          SELECT look, cut_d, armb, CAST(n AS DOUBLE) AS n_d,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
            CASE WHEN n < 2 THEN NULL ELSE
              CAST(CAST(n AS DECIMAL(33,0))*sxx
                   - CAST(sx AS DECIMAL(33,0))*sx AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0))
            END AS var_c
          FROM g),
        z AS (
          SELECT a.look, a.cut_d,
            CAST(a.n_d AS BIGINT) AS n_a, CAST(b.n_d AS BIGINT) AS n_b,
            CASE WHEN a.var_c / a.n_d + b.var_c / b.n_d = 0 THEN NULL
              ELSE round(abs((a.mean_c - b.mean_c)
                / sqrt(a.var_c / a.n_d + b.var_c / b.n_d)), 6)
            END AS abs_z,
            CASE a.look WHEN 1 THEN 48769e-4 WHEN 2 THEN 33569e-4
                 WHEN 3 THEN 26803e-4 WHEN 4 THEN 22898e-4
                 ELSE 20310e-4 END AS obf_bound
          FROM dd a JOIN dd b ON a.look = b.look
          WHERE a.armb = 0 AND b.armb = 1)
        SELECT CAST(look AS INTEGER) AS look,
          CAST(cut_d AS BIGINT) AS cut_day, n_a, n_b, abs_z,
          obf_bound, abs_z >= obf_bound AS stop_now
        FROM z ORDER BY look"""
  }

  /** Shared retention-halflife SQL (stream_retention_halflife):
    * day-0 cohort retention by age, ln-linear OLS (zipfFinish
    * discipline — 10dp-rounded terms, DECIMAL reaccumulation), half
    * life from the slope with a ln(2) literal. Engine-spliced epoch
    * day. */
  private def retentionHalflifeSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH act AS (
          SELECT DISTINCT user_id, CAST($day AS BIGINT) AS d
          FROM $table),
        d0 AS (SELECT min(d) AS d0 FROM act),
        cohort AS (
          SELECT act.user_id FROM act CROSS JOIN d0
          GROUP BY act.user_id, d0.d0
          HAVING min(act.d) = min(d0.d0)),
        cs AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM cohort),
        ret AS (
          SELECT act.d - d0.d0 AS age,
            CAST(count(*) AS BIGINT) AS retained
          FROM act JOIN cohort ON act.user_id = cohort.user_id
          CROSS JOIN d0
          WHERE act.d > d0.d0
          GROUP BY act.d - d0.d0),
        pts AS (
          SELECT CAST(age AS DOUBLE) AS x,
            ln(CAST(retained AS DOUBLE) / CAST(cs.n0 AS DOUBLE)) AS y
          FROM ret CROSS JOIN cs WHERE retained > 0),
        a AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(CAST(round(x, 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sx,
            CAST(sum(CAST(round(y, 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sy,
            CAST(sum(CAST(round(x * y, 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sxy,
            CAST(sum(CAST(round(x * x, 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sxx
          FROM pts),
        fit AS (
          SELECT CAST(n AS BIGINT) AS n_ages,
            CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
              ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
            END AS slope
          FROM a)
        SELECT cs.n0 AS cohort_size, fit.n_ages,
          round(fit.slope, 6) AS decay_slope,
          CASE WHEN fit.slope < 0e0
            THEN round(693147180559945e-15 / (0e0 - fit.slope), 6)
            END AS half_life_days
        FROM fit CROSS JOIN cs"""
  }

  /** Shared hash-uniformity SQL (stream_ab_hash_uniformity): 256
    * md5 buckets over distinct users, chi-squared vs uniform with
    * the df=255 95% critical value as a shared literal
    * (Wilson–Hilferty). Engine-spliced md5 bucket. */
  private def hashUniformitySql(table: String, spark: Boolean): String = {
    val bucket =
      if (spark)
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 256"
      else
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 256"
    s"""WITH u AS (
          SELECT DISTINCT user_id FROM $table),
        b AS (
          SELECT $bucket AS bk, CAST(count(*) AS BIGINT) AS n
          FROM u GROUP BY 1),
        t AS (
          SELECT CAST(sum(n) AS BIGINT) AS nt,
            CAST(count(*) AS BIGINT) AS nb,
            CAST(min(n) AS BIGINT) AS nmin,
            CAST(max(n) AS BIGINT) AS nmax
          FROM b),
        x AS (
          SELECT t.nt, t.nb, t.nmin, t.nmax,
            sum(CAST(round(
              (CAST(b.n AS DOUBLE) - CAST(t.nt AS DOUBLE) / 256e0)
              * (CAST(b.n AS DOUBLE) - CAST(t.nt AS DOUBLE) / 256e0)
              / (CAST(t.nt AS DOUBLE) / 256e0), 10)
              AS DECIMAL(38,10))) AS chi2d
          FROM b CROSS JOIN t
          GROUP BY t.nt, t.nb, t.nmin, t.nmax)
        SELECT nt AS n_users, nb AS n_buckets, nmin AS min_bucket,
          nmax AS max_bucket,
          round(CAST(chi2d AS DOUBLE), 6) AS chi2,
          CAST(chi2d AS DOUBLE) >= 293.246542e0 AS broken
        FROM x"""
  }

  /** Shared dow-ANOVA SQL (stream_dow_anova): one-way F on daily
    * cents totals across day-of-week groups; exact DECIMAL group
    * moments, fixed IEEE finish. Engine-spliced epoch day. */
  private def dowAnovaSql(table: String, spark: Boolean): String = {
    val day =
      if (spark) "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
      else "(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')"
    s"""WITH daily AS (
          SELECT CAST($day AS BIGINT) AS d,
            CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
              AS x
          FROM $table GROUP BY 1),
        g AS (
          SELECT d % 7 AS dow, CAST(count(*) AS BIGINT) AS ng,
            CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sg,
            CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DOUBLE) AS ssg
          FROM daily GROUP BY 1),
        t AS (
          SELECT CAST(sum(ng) AS DOUBLE) AS n,
            CAST(count(*) AS DOUBLE) AS k,
            CAST(sum(CAST(round(sg, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS s,
            CAST(sum(CAST(round(ssg, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS ss,
            CAST(sum(CAST(round(sg * sg / CAST(ng AS DOUBLE), 6)
              AS DECIMAL(38,6))) AS DOUBLE) AS sb
          FROM g)
        SELECT CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS k_dow,
          CASE WHEN k < 2 OR n <= k OR ss - sb = 0 THEN NULL
            ELSE round(((sb - s * s / n) / (k - 1e0))
              / ((ss - sb) / (n - k)), 6)
          END AS f_stat,
          CASE WHEN ss - s * s / n = 0 THEN NULL
            ELSE round((sb - s * s / n) / (ss - s * s / n), 6)
          END AS eta_sq,
          CASE WHEN k < 2 OR n <= k OR ss - sb = 0 THEN NULL
            ELSE ((sb - s * s / n) / (k - 1e0)) / ((ss - sb) / (n - k))
              >= 3e0
          END AS strong_effect
        FROM t"""
  }

  /** Shared burn-rate SQL (stream_burn_rate). Engine-spliced epoch
    * hour; identical window/ratio text. Budget 1% ⇒ burn = rate/1e-2. */
  private def burnRateSql(table: String, spark: Boolean): String = {
    val hour =
      if (spark) "unix_micros(ts) DIV 3600000000"
      else "epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000"
    s"""WITH hourly AS (
          SELECT CAST($hour AS BIGINT) AS h,
            CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errs,
            count(*) AS total
          FROM $table GROUP BY 1),
        w AS (
          SELECT h, errs, total,
            CAST(sum(errs) OVER w6 AS BIGINT) AS e6,
            CAST(sum(total) OVER w6 AS BIGINT) AS t6
          FROM hourly
          WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING
                        AND CURRENT ROW))
        SELECT h, errs, total,
          round(CAST(errs AS DOUBLE) / CAST(total AS DOUBLE) / 1e-2, 6)
            AS burn_1h,
          round(CAST(e6 AS DOUBLE) / CAST(t6 AS DOUBLE) / 1e-2, 6)
            AS burn_6h,
          round(CAST(errs AS DOUBLE) / CAST(total AS DOUBLE) / 1e-2, 6)
            >= 6e0
            AND
          round(CAST(e6 AS DOUBLE) / CAST(t6 AS DOUBLE) / 1e-2, 6) >= 6e0
            AS page
        FROM w ORDER BY h"""
  }

  /** Shared power-analysis SQL (stream_ab_power): exact DECIMAL
    * moments of per-user purchase cents, IEEE finish, shared z
    * literals in exponent form. */
  private def powerSql(table: String): String =
    s"""WITH u AS (
          SELECT user_id,
            CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS cents
          FROM $table GROUP BY user_id),
        g AS (
          SELECT CAST(count(*) AS DECIMAL(11,0)) AS n,
            CAST(sum(CAST(cents AS DECIMAL(16,0))) AS DECIMAL(16,0)) AS sx,
            CAST(sum(CAST(cents*cents AS DECIMAL(21,0)))
              AS DECIMAL(21,0)) AS sxx
          FROM u),
        d AS (
          SELECT CAST(n AS DOUBLE) AS n_d,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS mean_rev,
            CASE WHEN n < 2 THEN NULL ELSE
              CAST(CAST(n AS DECIMAL(33,0))*sxx
                   - CAST(sx AS DECIMAL(33,0))*sx AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0))
                / 1e4
            END AS var_rev
          FROM g)
        SELECT CAST(n_d AS BIGINT) AS n_users,
          round(mean_rev, 6) AS mean_rev,
          round(sqrt(var_rev), 6) AS sd_rev,
          round(mean_rev * 5e-2, 6) AS mde_abs,
          CASE WHEN mean_rev = 0 THEN NULL ELSE
            CAST(ceil(2e0 * ((196e-2 + 84e-2) * (196e-2 + 84e-2))
                  * var_rev / ((mean_rev * 5e-2) * (mean_rev * 5e-2)))
              AS BIGINT)
          END AS n_per_arm
        FROM d"""

  override def ops: Seq[Op] = Seq(

    Op("stream_envelope",
      (s, d) => EventStreams.envelope(Tables.events(s, d))
        .select(col("position"), col("pk"),
          unix_micros(col("ts")).as("ts_us"), col("op"),
          col("after.value").as("after_value"),
          // ANSI-safe: NULL (like the oracle) when props lacks "k"
          try_element_at(col("meta"), lit("k")).as("meta_k"))
        .orderBy("position"),
      Some("""SELECT event_id AS position, user_id AS pk,
                epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                CASE WHEN event_type = 'signup' THEN 'I'
                     WHEN event_type = 'error' THEN 'D'
                     ELSE 'U' END AS op,
                value AS after_value,
                CAST(json_extract_string(props, '$.k') AS INTEGER) AS meta_k
              FROM events ORDER BY position""")),

    Op("cdc_envelope_full",
      // Debezium-shaped envelope: txn grouping + before/after row
      // images + DDL events (VERDICT r3 #4). Flattened to scalar
      // columns so the DuckDB compare never depends on struct
      // rendering; the streaming rendering (per-key StateStore before-
      // images) is held equivalent in EventStreamSpec.
      (s, d) => EventStreams.envelopeTxn(Tables.events(s, d))
        .select(col("position"), col("pk"),
          unix_micros(col("ts")).as("ts_us"), col("op"),
          col("txn_id"), col("txn_seq"),
          col("before.value").as("before_value"),
          col("after.value").as("after_value"),
          col("ddl_stmt"))
        .orderBy("position"),
      Some("""WITH base AS (
                SELECT event_id AS position, user_id AS pk,
                  CAST(ts AS TIMESTAMP) AS tts,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       WHEN event_type = 'view' THEN 'DDL'
                       ELSE 'U' END AS op,
                  value, event_id // 16 AS txn_id, event_id % 16 AS txn_seq
                FROM events),
              r AS (
                SELECT *, lag(value) OVER (PARTITION BY pk
                  ORDER BY tts, position) AS prev_value
                FROM base WHERE op <> 'DDL')
              SELECT position, pk, epoch_us(tts) AS ts_us, op,
                txn_id, txn_seq,
                CASE WHEN op = 'I' THEN NULL ELSE prev_value END AS before_value,
                CASE WHEN op = 'D' THEN NULL ELSE value END AS after_value,
                CAST(NULL AS VARCHAR) AS ddl_stmt
              FROM r
              UNION ALL
              SELECT position, pk, epoch_us(tts), op, txn_id, txn_seq,
                NULL, NULL,
                'ALTER TABLE events ADD PARTITION (txn=' ||
                  CAST(txn_id AS VARCHAR) || ')'
              FROM base WHERE op = 'DDL'
              ORDER BY position""")),

    Op("cdc_txn_groups",
      // per-transaction apply unit: op counters, position span, commit
      // ts, distinct keys — one shuffle on txn_id, counters partial-
      // aggregated map-side
      (s, d) => EventStreams.txnGroups(Tables.events(s, d))
        .orderBy("txn_id"),
      Some("""WITH env AS (
                SELECT event_id AS position, user_id AS pk,
                  CAST(ts AS TIMESTAMP) AS tts,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       WHEN event_type = 'view' THEN 'DDL'
                       ELSE 'U' END AS op,
                  event_id // 16 AS txn_id
                FROM events)
              SELECT txn_id, count(*) AS n_ops,
                CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
                CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
                CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
                CAST(sum(CASE WHEN op = 'DDL' THEN 1 ELSE 0 END) AS BIGINT) AS n_ddl,
                min(position) AS first_position,
                max(position) AS last_position,
                max(epoch_us(tts)) AS commit_ts_us,
                count(DISTINCT pk) AS n_keys
              FROM env GROUP BY txn_id ORDER BY txn_id""")),

    Op("stream_filter_route",
      (s, d) => EventStreams.filterRoute(Tables.events(s, d))
        .select("event_id", "user_id", "event_type", "route")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type,
                ((user_id % 4) + 4) % 4 AS route
              FROM events WHERE event_type <> 'view'
              ORDER BY event_id""")),

    Op("win_tumbling",
      (s, d) => EventStreams.tumbling(Tables.events(s, d))
        .orderBy("hour_start_us", "event_type"),
      Some("""SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)
                  * 3600000000 AS hour_start_us,
                event_type, count(*) AS n_events,
                round(sum(value), 6) AS total_value
              FROM events
              GROUP BY 1, event_type
              ORDER BY hour_start_us, event_type""")),

    Op("win_sliding",
      // 1h window sliding 15m: every event lands in exactly 4 windows;
      // the oracle reproduces Spark's epoch-aligned window starts by
      // flooring to the slide and stepping back k slides
      (s, d) => EventStreams.sliding(Tables.events(s, d))
        .orderBy("win_start_us", "event_type"),
      Some("""SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) - k)
                  * 900000000 AS win_start_us,
                event_type, count(*) AS n_events,
                round(sum(value), 6) AS total_value
              FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
              GROUP BY 1, event_type
              ORDER BY win_start_us, event_type""")),

    Op("win_session",
      // per-user sessions, 30m inactivity gap; oracle is the classic
      // lag→gap-flag→running-sum sessionization (new session when the
      // gap is >= 30m, matching Spark's exclusive session end)
      (s, d) => EventStreams.sessionized(Tables.events(s, d))
        .orderBy("user_id", "session_start_us"),
      Some("""WITH e AS (
                SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value
                FROM events),
              flagged AS (
                SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                             OR tus - lag(tus) OVER w >= 1800000000
                           THEN 1 ELSE 0 END AS new_s
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
              sess AS (
                SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM flagged)
              SELECT user_id, min(tus) AS session_start_us,
                count(*) AS n_events, round(sum(value), 6) AS total_value
              FROM sess GROUP BY user_id, sid
              ORDER BY user_id, session_start_us""")),

    // watermark semantics are unobservable in batch (nothing is late);
    // EventStreamSpec injects late rows through the streaming path
    Op("stream_watermark_late",
      (s, d) => EventStreams.watermarkedTumbling(Tables.events(s, d))
        .orderBy("hour_start_us", "event_type"),
      None),

    Op("stream_dedup",
      // effectively-once by position: testdata event_ids are unique so
      // the batch form equals DISTINCT; EventStreamSpec replays with
      // injected duplicates to prove the dedup actually fires
      (s, d) => EventStreams.dedupByPosition(
          Tables.events(s, d).select("event_id", "user_id", "event_type"))
        .orderBy("event_id"),
      Some("""SELECT DISTINCT event_id, user_id, event_type
              FROM events ORDER BY event_id""")),

    Op("stream_stateful_fold",
      // the event-sourcing heart: typed per-key state machine via
      // mapGroupsWithState, run here in batch mode (same code path the
      // stream uses; the fold is order-insensitive so both agree)
      (s, d) => EventStreams.statefulFold(
          EventStreams.toFoldEvents(Tables.events(s, d)))
        .toDF()
        .withColumn("balance", round(col("balance"), 6))
        .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n_events,
                round(sum(value), 6) AS balance,
                max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_seen_us
              FROM events GROUP BY user_id ORDER BY user_id""")),

    Op("cdc_apply_upsert",
      (s, d) => EventStreams.cdcApplyUpsert(Tables.events(s, d))
        .orderBy("user_id"),
      Some("""WITH env AS (
                SELECT event_id AS position, user_id AS pk,
                  CAST(ts AS TIMESTAMP) AS tts,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       ELSE 'U' END AS op,
                  event_type, value
                FROM events),
              r AS (
                SELECT *, row_number() OVER (PARTITION BY pk
                  ORDER BY tts DESC, position DESC) AS rn
                FROM env)
              SELECT pk AS user_id, position AS last_position, op,
                epoch_us(tts) AS ts_us, event_type AS last_event_type,
                value AS last_value
              FROM r WHERE rn = 1 AND op <> 'D'
              ORDER BY user_id""")),

    Op("cdc_snapshot_asof",
      // point-in-time reconstruction (time travel): cdc_apply_upsert
      // replayed only to position ≤ ⌊max·3/5⌋ — the consumer's
      // "table AS OF position P" read. Bound = 1-row agg broadcast,
      // then prefix filter + the same single pk-window; at 100 TB the
      // prefix predicate is a range scan over position-sorted log
      // segments, reading 60% of the log instead of all of it
      (s, d) => EventStreams.cdcSnapshotAsOf(Tables.events(s, d))
        .orderBy("user_id"),
      Some("""WITH env AS (
                SELECT event_id AS position, user_id AS pk,
                  CAST(ts AS TIMESTAMP) AS tts,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       ELSE 'U' END AS op,
                  event_type, value
                FROM events),
              b AS (SELECT (max(position) * 3) // 5 AS asof_pos FROM env),
              r AS (
                SELECT env.*, b.asof_pos,
                  row_number() OVER (PARTITION BY pk
                    ORDER BY tts DESC, position DESC) AS rn
                FROM env, b WHERE position <= b.asof_pos)
              SELECT pk AS user_id, position AS last_position, op,
                epoch_us(tts) AS ts_us, event_type AS last_event_type,
                value AS last_value, asof_pos
              FROM r WHERE rn = 1 AND op <> 'D'
              ORDER BY user_id""")),

    Op("cdc_build_scd2",
      // changelog → SCD2 dimension HISTORY — the other direction from
      // join_scd2 (which consumes an existing effective-dated
      // dimension): replication lands a stream of I/U/D changes, and
      // the warehouse wants the full type-2 table — one row per
      // (key, version) with [valid_from, valid_to) intervals, the
      // open version flagged current. Each non-delete change opens a
      // version; the NEXT change of the same key (any op, deletes
      // included) closes it — so valid_to is one lead() over the
      // per-key change sequence ordered by (ts, position), computed
      // BEFORE deletes are dropped (a delete contributes its
      // timestamp as the predecessor's close, then emits no row).
      // One shuffle on the pk; per-key window state is that key's
      // history (the CDC-grain bound, same shape as cdc_apply_upsert).
      (s, d) => {
        val e = Tables.events(s, d)
        val env = e.select(col("event_id").as("position"),
          col("user_id").as("pk"), col("ts").as("tts"),
          when(col("event_type") === "signup", lit("I"))
            .when(col("event_type") === "error", lit("D"))
            .otherwise(lit("U")).as("op"),
          col("value"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("pk").orderBy("tts", "position")
        env.withColumn("next_us", unix_micros(lead(col("tts"), 1).over(w)))
          .filter(col("op") =!= "D")
          .select(col("pk").as("user_id"), col("position"), col("op"),
            unix_micros(col("tts")).as("valid_from_us"),
            col("next_us").as("valid_to_us"),
            col("next_us").isNull.as("is_current"),
            col("value"))
          .orderBy("user_id", "valid_from_us", "position")
      },
      Some("""WITH env AS (
                SELECT event_id AS position, user_id AS pk,
                  CAST(ts AS TIMESTAMP) AS tts,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       ELSE 'U' END AS op,
                  value
                FROM events),
              v AS (
                SELECT *, epoch_us(lead(tts) OVER (PARTITION BY pk
                  ORDER BY tts, position)) AS next_us
                FROM env)
              SELECT pk AS user_id, position, op,
                epoch_us(tts) AS valid_from_us,
                next_us AS valid_to_us,
                next_us IS NULL AS is_current, value
              FROM v WHERE op <> 'D'
              ORDER BY user_id, valid_from_us, position""")),

    Op("cdc_compact_versions",
      // retention trim — the storage-side sibling of cdc_build_scd2:
      // a replicated changelog grows without bound, and the
      // compactor keeps only the last K=2 versions per key (the
      // Kafka-compaction / Iceberg snapshot-expiry idea at row
      // grain), newest first so version_back=1 is the live row.
      // Expressed as the declarative rank-filter (row_number per pk
      // over (ts, position) DESC ≤ K) so Catalyst plans
      // WindowGroupLimit: map tasks pre-truncate to K rows per key
      // BEFORE the pk shuffle — the exchange carries ≤ K·|keys| rows
      // per task, never the changelog (PlanSpec pins the limit node).
      (s, d) => {
        val e = Tables.events(s, d)
        val env = e.select(col("event_id").as("position"),
          col("user_id").as("pk"), col("ts").as("tts"),
          when(col("event_type") === "signup", lit("I"))
            .when(col("event_type") === "error", lit("D"))
            .otherwise(lit("U")).as("op"),
          col("value"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("pk")
          .orderBy(col("tts").desc, col("position").desc)
        env.withColumn("version_back", row_number().over(w))
          .filter(col("version_back") <= 2)
          .select(col("pk").as("user_id"),
            col("version_back"), col("position"), col("op"),
            unix_micros(col("tts")).as("ts_us"), col("value"))
          .orderBy("user_id", "version_back")
      },
      Some("""WITH env AS (
                SELECT event_id AS position, user_id AS pk,
                  CAST(ts AS TIMESTAMP) AS tts,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       ELSE 'U' END AS op,
                  value
                FROM events),
              r AS (
                SELECT *, row_number() OVER (PARTITION BY pk
                  ORDER BY tts DESC, position DESC) AS version_back
                FROM env)
              SELECT pk AS user_id,
                CAST(version_back AS INTEGER) AS version_back,
                position, op, epoch_us(tts) AS ts_us, value
              FROM r WHERE version_back <= 2
              ORDER BY user_id, version_back""")),

    Op("cdc_merge_into",
      // SQL MERGE semantics as a batch operator — the warehouse
      // upsert primitive (WHEN MATCHED AND CHANGED → update, WHEN
      // NOT MATCHED → insert, WHEN NOT MATCHED BY SOURCE → delete)
      // that cdc_apply_upsert's log-replay form feeds in practice;
      // this is the set-based form a lakehouse writer executes. The
      // source is the target drifted deterministically (the
      // cdc_table_diff construction — every 97th key dropped, every
      // 101st status rewritten, every 103rd re-keyed under the
      // high-bit tag, so both engines build the identical source
      // from one table). ONE full outer join on the key (co-
      // partitioned or co-bucketed at scale), action decided by a
      // codegen CASE; deleted rows leave the output, and every
      // surviving row carries its action for downstream audit.
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_ord_merge")
        s.sql(mergeIntoSql("graft_ord_merge"))
      },
      Some(mergeIntoSql("orders"))),

    Op("cdc_conflict_lww",
      // multi-master conflict resolution — last-writer-wins merge of
      // two replicas' changelogs (the LWW-register CRDT rule every
      // active-active replication system ships): winner per key =
      // max (ts, position, replica) — replica id as the final total-
      // order tiebreak, so concurrent writes resolve identically on
      // every node. Replica B is the SAME log drifted
      // deterministically (every 7th position's change lands 1 s
      // later with a re-scaled value — both engines construct the
      // identical replica from one table, the cdc_table_diff
      // discipline). The rank-filter plans WindowGroupLimit: map
      // tasks pre-truncate to 1 row per key per task before the pk
      // shuffle (the cdc_compact_versions bound).
      (s, d) => {
        val e = Tables.events(s, d)
        val base = e.select(col("event_id").as("position"),
          col("user_id").as("pk"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        val a = base.withColumn("replica", lit("a"))
        val b = base
          .withColumn("ts_us",
            when(col("position") % 7 === 0, col("ts_us") + 1000000L)
              .otherwise(col("ts_us")))
          .withColumn("value",
            when(col("position") % 7 === 0,
              round(col("value") * 2, 6)).otherwise(col("value")))
          .withColumn("replica", lit("b"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("pk")
          .orderBy(col("ts_us").desc, col("position").desc,
            col("replica").desc)
        a.unionByName(b)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("pk").as("user_id"), col("replica"),
            col("position"), col("ts_us"), col("value"))
          .orderBy("user_id")
      },
      Some("""WITH base AS (
                SELECT event_id AS position, user_id AS pk,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
                FROM events),
              m AS (
                SELECT position, pk, ts_us, value, 'a' AS replica
                FROM base
                UNION ALL
                SELECT position, pk,
                  CASE WHEN position % 7 = 0 THEN ts_us + 1000000
                       ELSE ts_us END,
                  CASE WHEN position % 7 = 0 THEN round(value * 2, 6)
                       ELSE value END,
                  'b' AS replica
                FROM base),
              r AS (
                SELECT *, row_number() OVER (PARTITION BY pk
                  ORDER BY ts_us DESC, position DESC, replica DESC) AS rn
                FROM m)
              SELECT pk AS user_id, replica, position, ts_us, value
              FROM r WHERE rn = 1
              ORDER BY user_id""")),

    Op("stream_topk_trending",
      // trending dashboard — daily top-3 event types with
      // day-over-day momentum: per-(day, type) counts map-side
      // combine (the only pass over the stream), then BOTH windows —
      // the per-day rank and the per-type lag that the ratio needs —
      // run on the bounded |days|·|types| daily relation (~150 rows
      // here, calendar-bounded at any corpus size). dod is ONE IEEE
      // division of exact longs, NULL on a type's first day; the
      // trend must be computed BEFORE the top-3 cut (yesterday's
      // count matters even if the type wasn't top-3 yesterday).
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("eday"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val byDay = org.apache.spark.sql.expressions.Window
          .partitionBy("eday")
          .orderBy(col("n").desc, col("event_type").asc)
        val byType = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("eday")
        daily
          .withColumn("dod", round(col("n").cast("double") /
            lag(col("n"), 1).over(byType).cast("double"), 6))
          .withColumn("rank_in_day", row_number().over(byDay))
          .filter(col("rank_in_day") <= 3)
          .select(date_format(col("eday"), "yyyy-MM-dd").as("eday"),
            col("event_type"), col("n"), col("rank_in_day"), col("dod"))
          .orderBy("eday", "rank_in_day")
      },
      Some("""WITH daily AS (
                SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS eday,
                  event_type, count(*) AS n
                FROM events GROUP BY 1, 2),
              t AS (
                SELECT eday, event_type, n,
                  round(CAST(n AS DOUBLE) / CAST(lag(n) OVER (
                    PARTITION BY event_type ORDER BY eday) AS DOUBLE), 6)
                    AS dod,
                  row_number() OVER (PARTITION BY eday
                    ORDER BY n DESC, event_type ASC) AS rank_in_day
                FROM daily)
              SELECT strftime(eday, '%Y-%m-%d') AS eday, event_type,
                CAST(n AS BIGINT) AS n,
                CAST(rank_in_day AS INTEGER) AS rank_in_day, dod
              FROM t WHERE rank_in_day <= 3
              ORDER BY eday, rank_in_day""")),

    Op("cdc_table_diff",
      // the OTHER half of replication validation next to
      // table_checksum: when the digests disagree, this op names the
      // drift — every key classified missing_target / extra_target /
      // changed by a full outer join on the primary key with value
      // comparison. The "target" is the source drifted
      // deterministically (every 97th key deleted, every 101st status
      // rewritten, every 103rd re-inserted under a high-bit-tagged
      // key — | 2^42 ≡ +2^42 for keys < 2^42, so tagged keys can
      // NEVER alias real o_orderkeys at any SF, where an additive
      // shift would collide once the corpus outgrows it) so both
      // engines construct the identical replica from one table.
      // At 100 TB: one shuffle per side on the pk (or zero with
      // co-bucketed layouts), only differing keys emitted — the diff
      // report is |drift|-sized, never |table|-sized.
      (s, d) => {
        val src = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"),
            col("o_orderdate").cast("date").as("d"))
        val tgt = src.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 101 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
          .unionByName(src.filter(col("o_orderkey") % 103 === 0)
            .withColumn("o_orderkey", col("o_orderkey").bitwiseOR(lit(1L << 42))))
        val s2 = src.select(col("o_orderkey").as("sk"), col("o_custkey").as("sc"),
          col("o_orderstatus").as("ss"), col("d").as("sd"))
        val t2 = tgt.select(col("o_orderkey").as("tk"), col("o_custkey").as("tc"),
          col("o_orderstatus").as("ts2"), col("d").as("td"))
        s2.join(t2, s2("sk") === t2("tk"), "full_outer")
          .select(coalesce(col("sk"), col("tk")).as("o_orderkey"),
            when(col("sk").isNull, lit("extra_target"))
              .when(col("tk").isNull, lit("missing_target"))
              .when(col("ss") =!= col("ts2") || col("sc") =!= col("tc")
                || col("sd") =!= col("td"), lit("changed"))
              .as("diff_class"))
          .filter(col("diff_class").isNotNull)
          .orderBy("o_orderkey")
      },
      Some("""WITH src AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                  CAST(o_orderdate AS DATE) AS d
                FROM orders),
              tgt AS (
                SELECT o_orderkey, o_custkey,
                  CASE WHEN o_orderkey % 101 = 0 THEN 'X'
                       ELSE o_orderstatus END AS o_orderstatus, d
                FROM src WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT o_orderkey | (1::BIGINT << 42), o_custkey,
                  o_orderstatus, d
                FROM src WHERE o_orderkey % 103 = 0),
              j AS (
                SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                  CASE WHEN s.o_orderkey IS NULL THEN 'extra_target'
                       WHEN t.o_orderkey IS NULL THEN 'missing_target'
                       WHEN s.o_orderstatus <> t.o_orderstatus
                         OR s.o_custkey <> t.o_custkey
                         OR s.d <> t.d THEN 'changed'
                       END AS diff_class
                FROM src s FULL JOIN tgt t ON s.o_orderkey = t.o_orderkey)
              SELECT o_orderkey, diff_class FROM j
              WHERE diff_class IS NOT NULL
              ORDER BY o_orderkey""")),

    Op("cdc_gap_audit",
      // delivery-hole detection over the binlog position sequence —
      // the audit a replication consumer runs to prove it missed
      // nothing (the twin of stream_dedup's duplicate side). Gaps are
      // planted deterministically (every 97th position dropped). The
      // naive form is ONE global lag() — an unpartitioned window that
      // serializes 100 TB through one task; this op computes the
      // IDENTICAL result two-level: lag inside 1024-wide position
      // blocks (parallel, bounded state), then lag over the per-block
      // (min, max) summary — a relation of positions/1024 rows,
      // bounded metadata. A gap either sits inside one block (level
      // 1) or between two occupied blocks (level 2, which also
      // collapses runs of empty blocks into one gap row); the oracle
      // runs the naive global lag and must emit the identical rows.
      (s, d) => {
        val ids = Tables.events(s, d)
          .filter(col("event_id") % 97 =!= 0)
          .select(col("event_id"), expr("event_id DIV 1024").as("b"))
        val wIn = Window.partitionBy("b").orderBy("event_id")
        val inBlock = ids
          .withColumn("prev", lag("event_id", 1).over(wIn))
          .filter(col("prev").isNotNull && col("event_id") - col("prev") > 1)
          .select((col("prev") + 1).as("gap_start"),
            (col("event_id") - 1).as("gap_end"))
        val bounds = ids.groupBy("b")
          .agg(min("event_id").as("mn"), max("event_id").as("mx"))
        val wB = Window.orderBy("b")
        val crossBlock = bounds
          .withColumn("prev_mx", lag("mx", 1).over(wB))
          .filter(col("prev_mx").isNotNull && col("mn") - col("prev_mx") > 1)
          .select((col("prev_mx") + 1).as("gap_start"),
            (col("mn") - 1).as("gap_end"))
        inBlock.unionByName(crossBlock)
          .select(col("gap_start"), col("gap_end"),
            (col("gap_end") - col("gap_start") + 1).as("n_missing"))
          .orderBy("gap_start")
      },
      Some("""WITH ids AS (
                SELECT event_id FROM events WHERE event_id % 97 <> 0),
              l AS (
                SELECT event_id,
                  lag(event_id) OVER (ORDER BY event_id) AS prev
                FROM ids)
              SELECT prev + 1 AS gap_start, event_id - 1 AS gap_end,
                event_id - prev - 1 AS n_missing
              FROM l WHERE prev IS NOT NULL AND event_id - prev > 1
              ORDER BY gap_start""")),

    Op("cdc_apply_evolve",
      // consumer-side schema evolution: the first DDL event in the log
      // adds a column; post-DDL winners carry it, pre-DDL winners
      // backfill NULL (VERDICT r4 "What's missing" #3)
      (s, d) => EventStreams.cdcApplyUpsertEvolving(Tables.events(s, d))
        .orderBy("user_id"),
      Some("""WITH env AS (
                SELECT event_id AS position, user_id AS pk,
                  CAST(ts AS TIMESTAMP) AS tts,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       WHEN event_type = 'view' THEN 'DDL'
                       ELSE 'U' END AS op,
                  event_type, value
                FROM events),
              d AS (SELECT min(position) AS ddl_pos FROM env WHERE op = 'DDL'),
              r AS (
                SELECT *, row_number() OVER (PARTITION BY pk
                  ORDER BY tts DESC, position DESC) AS rn
                FROM env WHERE op <> 'DDL')
              SELECT pk AS user_id, position AS last_position, op,
                epoch_us(tts) AS ts_us, event_type AS last_event_type,
                value AS last_value,
                CASE WHEN position >= (SELECT ddl_pos FROM d)
                     THEN round(value * 2, 6) END AS last_value2
              FROM r WHERE rn = 1 AND op <> 'D'
              ORDER BY user_id""")),

    Op("cdc_apply_ddl_lifecycle",
      // full DDL lifecycle from the log's DDL stream: ADD (backfill
      // NULL) + RENAME value→amount (metadata-only, retroactive) +
      // DROP event_type (gone for all rows) — the oracle pins the
      // post-lifecycle schema; per-stage schemas pinned in
      // EventStreamSpec on crafted logs
      (s, d) => EventStreams.cdcApplyDdlLifecycle(Tables.events(s, d))
        .orderBy("user_id"),
      Some("""WITH env AS (
                SELECT event_id AS position, user_id AS pk,
                  CAST(ts AS TIMESTAMP) AS tts,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       WHEN event_type = 'view' THEN 'DDL'
                       ELSE 'U' END AS op,
                  event_type, value
                FROM events),
              d AS (SELECT min(position) AS add_pos FROM env WHERE op = 'DDL'),
              r AS (
                SELECT *, row_number() OVER (PARTITION BY pk
                  ORDER BY tts DESC, position DESC) AS rn
                FROM env WHERE op <> 'DDL')
              SELECT pk AS user_id, position AS last_position, op,
                epoch_us(tts) AS ts_us,
                value AS last_amount,
                CASE WHEN position >= (SELECT add_pos FROM d)
                     THEN round(value * 2, 6) END AS last_value2
              FROM r WHERE rn = 1 AND op <> 'D'
              ORDER BY user_id""")),

    Op("stream_join_static",
      (s, d) => EventStreams.enrichWithCustomer(
          Tables.events(s, d), Tables.customer(s, d))
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type, c_name, c_mktsegment
              FROM events JOIN customer ON user_id = c_custkey
              ORDER BY event_id""")),

    Op("stream_join_stream",
      (s, d) => EventStreams.clickToPurchase(Tables.events(s, d))
        .orderBy("user_id"),
      Some("""SELECT c.user_id AS user_id, count(*) AS n_pairs
              FROM events c JOIN events b
                ON c.user_id = b.user_id
               AND b.ts >= c.ts AND b.ts < c.ts + INTERVAL 1 HOUR
              WHERE c.event_type = 'click' AND b.event_type = 'purchase'
              GROUP BY 1 ORDER BY user_id""")),

    Op("stream_join_outer",
      // stream-stream LEFT OUTER interval join (op 64b) — the
      // conversion-attribution form of stream_join_stream: EVERY
      // click gets a row, with its in-window purchase count or an
      // explicit 0/false when none arrived. The outer side is the
      // genuinely streaming-hard part (a "no match" can only emit
      // once the watermark proves the match window closed — state
      // eviction, not a processing-time race); EventStreamSpec pins
      // the append-mode stream ≡ this batch body under a
      // watermark-flush sentinel. Shape at 100 TB: both sides
      // hash-partition on user_id; per-key join state is bounded by
      // interval + watermark delay. Batch plan: one user_id
      // equi-join with the hour range as residual, then a
      // map-combined count keyed by the high-cardinality click id.
      (s, d) => EventStreams.clickToPurchaseOuter(Tables.events(s, d))
        .orderBy("user_id", "click_id"),
      Some("""SELECT c.user_id AS user_id, c.event_id AS click_id,
                count(b.event_id) AS n_purchases,
                count(b.event_id) > 0 AS converted
              FROM events c LEFT JOIN events b
                ON c.user_id = b.user_id
               AND b.event_type = 'purchase'
               AND b.ts >= c.ts AND b.ts < c.ts + INTERVAL 1 HOUR
              WHERE c.event_type = 'click'
              GROUP BY 1, 2 ORDER BY user_id, click_id""")),

    Op("stream_funnel_conversion",
      // ordered conversion funnel — the product-analytics staple over
      // an event log: per user, the FIRST signup, then the first
      // click strictly after it, then the first purchase strictly
      // after that. Three stage aggregates, each one hash-shuffle on
      // user_id with map-side min-combine, chained by co-partitioned
      // joins (after the first exchange every stage reuses the
      // user_id partitioning — no fact re-shuffle), so at 100 TB the
      // cost is three partial-agg passes, never a per-user sort or a
      // whole-log window. Strict `>` between stages on both engines
      // keeps ties deterministic; timestamps leave as epoch micros
      // (§5.2: no raw timestamp outputs).
      (s, d) => {
        val e = Tables.events(s, d)
        def stage(tpe: String, after: org.apache.spark.sql.DataFrame,
            afterCol: String, out: String): org.apache.spark.sql.DataFrame =
          e.filter(col("event_type") === tpe)
            .join(after, "user_id")
            .filter(col("ts") > col(afterCol))
            .groupBy("user_id").agg(min(col("ts")).as(out))
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("t1"))
        val s2 = stage("click", s1, "t1", "t2")
        val s3 = stage("purchase", s2, "t2", "t3")
        s1.join(s2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
          .join(s3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
          .select(col("user_id"),
            unix_micros(col("t1")).as("signup_us"),
            unix_micros(col("t2")).as("click_us"),
            unix_micros(col("t3")).as("purchase_us"),
            col("t3").isNotNull.as("converted"))
          .orderBy("user_id")
      },
      Some("""WITH s1 AS (
                SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
                FROM events WHERE event_type = 'signup' GROUP BY 1),
              s2 AS (
                SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click'
                  AND CAST(e.ts AS TIMESTAMP) > s1.t1
                GROUP BY 1),
              s3 AS (
                SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase'
                  AND CAST(e.ts AS TIMESTAMP) > s2.t2
                GROUP BY 1)
              SELECT s1.user_id AS user_id, epoch_us(t1) AS signup_us,
                epoch_us(t2) AS click_us, epoch_us(t3) AS purchase_us,
                t3 IS NOT NULL AS converted
              FROM s1
              LEFT JOIN s2 ON s1.user_id = s2.user_id
              LEFT JOIN s3 ON s1.user_id = s3.user_id
              ORDER BY 1""")),

    Op("win_gap_fill",
      // date-spine gap fill: per-user daily counts with missing days
      // zero-filled between the user's first and last active day — the
      // time-series scaffolding op every metrics pipeline needs (a gap
      // is only visible as an ABSENT row; downstream lag/rolling logic
      // needs it PRESENT as a zero). Shape at 100 TB: the raw scan
      // collapses to |user|×|active-day| rows in ONE map-combined
      // aggregate; the span pass and the spine join shuffle only that
      // tiny daily relation, never raw events, and the generated spine
      // is bounded by each user's own [first, last] span — not the
      // users × global-calendar cross join of the naive rewrite, whose
      // output is dominated by rows for users who joined yesterday.
      // Formulated via lead() + sequence-to-next rather than the
      // spine-LEFT-JOIN-daily textbook shape: the join formulation
      // materializes the daily aggregate TWICE (Spark plans the
      // self-referencing aggregate as two full scans of the raw
      // events), where lead() fills each gap from the row that
      // precedes it — ONE scan, no join, no broadcast, and the window
      // sorts the collapsed daily relation, never raw events.
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("user_id"),
            datediff(col("ts").cast("date"),
              to_date(lit("1970-01-01"))).as("eday"))
          .agg(count(lit(1)).as("n_events"))
        val w = Window.partitionBy("user_id").orderBy("eday")
        daily
          .withColumn("next_eday", lead("eday", 1).over(w))
          .withColumn("day",
            explode(expr("sequence(eday, coalesce(next_eday - 1, eday))")))
          .select(col("user_id"), col("day"),
            when(col("day") === col("eday"), col("n_events"))
              .otherwise(lit(0L)).as("n_events"))
          .withColumnRenamed("day", "eday")
          .orderBy("user_id", "eday")
      },
      Some("""WITH daily AS (
                SELECT user_id,
                  CAST(date_diff('day', DATE '1970-01-01',
                    CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS eday,
                  count(*) AS n_events
                FROM events GROUP BY 1, 2),
              spans AS (
                SELECT user_id, min(eday) AS d0, max(eday) AS d1
                FROM daily GROUP BY user_id),
              spine AS (
                SELECT user_id,
                  CAST(unnest(generate_series(d0, d1)) AS INTEGER) AS eday
                FROM spans)
              SELECT s.user_id, s.eday, coalesce(d.n_events, 0) AS n_events
              FROM spine s LEFT JOIN daily d
                ON s.user_id = d.user_id AND s.eday = d.eday
              ORDER BY s.user_id, s.eday""")),

    Op("win_interp_linear",
      // linear-interpolation gap fill — win_gap_fill's zero-fill twin
      // for CONTINUOUS metrics (a gauge, a balance, a sensor reading),
      // where an absent day means "unobserved", not "zero": each
      // missing day gets v_prev + (v_next − v_prev)·frac along the
      // straight line between its surrounding observations. Same
      // scalable lead()+sequence shape as win_gap_fill (the daily
      // aggregate collapses the log map-side; the window sorts only
      // the |user|×|active-day| relation; each gap fills from the ONE
      // preceding row — no spine join, no second scan). Determinism:
      // the daily value is a DECIMAL-accumulated sum (order-
      // independent, dsum) and the interpolation is pure IEEE −,×,÷
      // on identically-shaped expressions, so both engines emit
      // bit-identical doubles with no rounding step (§5.2
      // project_expr precedent).
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("user_id"),
            datediff(col("ts").cast("date"),
              to_date(lit("1970-01-01"))).as("eday"))
          .agg(dsum(col("value")).as("v"))
        val w = Window.partitionBy("user_id").orderBy("eday")
        daily
          .withColumn("next_eday", lead("eday", 1).over(w))
          .withColumn("next_v", lead("v", 1).over(w))
          .withColumn("day",
            explode(expr("sequence(eday, coalesce(next_eday - 1, eday))")))
          .select(col("user_id"), col("day").as("gday"),
            when(col("day") === col("eday"), col("v"))
              .otherwise(col("v") + (col("next_v") - col("v")) *
                ((col("day") - col("eday")).cast("double") /
                 (col("next_eday") - col("eday")).cast("double")))
              .as("v_interp"),
            (col("day") =!= col("eday")).as("interpolated"))
          .orderBy("user_id", "gday")
      },
      Some("""WITH daily AS (
                SELECT user_id,
                  CAST(date_diff('day', DATE '1970-01-01',
                    CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS eday,
                  CAST(round(sum(CAST(value AS DECIMAL(38,10))), 6) AS DOUBLE)
                    AS v
                FROM events GROUP BY 1, 2),
              l AS (
                SELECT user_id, eday, v,
                  lead(eday) OVER (PARTITION BY user_id ORDER BY eday)
                    AS next_eday,
                  lead(v) OVER (PARTITION BY user_id ORDER BY eday) AS next_v
                FROM daily),
              x AS (
                SELECT user_id, eday, v, next_eday, next_v,
                  CAST(unnest(generate_series(eday,
                    coalesce(next_eday - 1, eday))) AS INTEGER) AS day
                FROM l)
              SELECT user_id, day AS gday,
                CASE WHEN day = eday THEN v
                     ELSE v + (next_v - v) *
                       (CAST(day - eday AS DOUBLE)
                        / CAST(next_eday - eday AS DOUBLE))
                END AS v_interp,
                day <> eday AS interpolated
              FROM x ORDER BY user_id, gday""")),

    Op("win_rolling_corr",
      // rolling 7-day Pearson correlation between a series pair (per
      // event_type: daily total value vs daily event count) — the
      // metric-drift detector ("did spend stop tracking volume this
      // week?") that quant/ops dashboards run over every KPI pair.
      // Exactness: the agg_stats_moments discipline applied INSIDE a
      // window frame — both engines accumulate the classic moment
      // sums (n, Σx, Σy, Σx², Σy², Σxy) over 2dp-scaled INTEGER
      // daily values (the daily cents total is itself a
      // DECIMAL-accumulated, order-independent sum), so every frame
      // statistic is exact; the finish step is IEEE ×,−,÷,sqrt on
      // identically-shaped casts → bit-identical doubles. Shape at
      // 100 TB: the raw log collapses to |type|×|day| rows in one
      // map-combined aggregate; the window sorts only that tiny daily
      // relation with single-pass frame sums (six numbers of state
      // per frame). Decimal widths hold through x ≤ 3e9 cents/day
      // (int64-square bound documented on agg_stats_moments — past
      // that, rescale the fixed-point unit). Zero-variance frames
      // (n = 1, or a constant series) yield NULL via the vx·vy = 0
      // guard on both engines.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_events_rcorr")
        s.sql(rollingCorrSql(
          """SELECT event_type,
               datediff(CAST(ts AS DATE), DATE '1970-01-01') AS eday,
               CAST(round(sum(CAST(value * 100 AS DECIMAL(38,10))), 0)
                    AS BIGINT) AS x,
               count(*) AS y
             FROM graft_events_rcorr GROUP BY 1, 2"""))
      },
      Some(rollingCorrSql(
        """SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01',
               CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS eday,
             CAST(round(sum(CAST(value * 100 AS DECIMAL(38,10))), 0)
                  AS BIGINT) AS x,
             count(*) AS y
           FROM events GROUP BY 1, 2"""))),

    Op("win_bollinger",
      // Bollinger volatility bands (Bollinger 1980s; the SPC control
      // chart in trading clothes) — rolling 20-period mean ± 2σ per
      // series, flagging excursions: win_rolling_corr's
      // frame-moment discipline applied to a single series. Exact
      // frame sums (n, Σx, Σx² over 2dp-int daily cents — DECIMAL
      // widths sized so every product fits both engines' conventions:
      // x ≤ 3e9 ⇒ Σx ≤ 6e10, Σx² ≤ 1.8e20, n·Σx² and Σx·Σx ≤ 3.6e21
      // with the DuckDB left-operand-carries-result-width rule),
      // IEEE finish from one shared string ⇒ bit-identical doubles
      // including the band-excursion booleans. 100 TB: the log
      // collapses to |type|×|day| map-side, the window runs
      // single-pass frame sums on that tiny relation.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_events_boll")
        s.sql(bollingerSql(
          """SELECT event_type,
               datediff(CAST(ts AS DATE), DATE '1970-01-01') AS eday,
               CAST(round(sum(CAST(value * 100 AS DECIMAL(38,10))), 0)
                    AS BIGINT) AS x
             FROM graft_events_boll GROUP BY 1, 2"""))
      },
      Some(bollingerSql(
        """SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01',
               CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS eday,
             CAST(round(sum(CAST(value * 100 AS DECIMAL(38,10))), 0)
                  AS BIGINT) AS x
           FROM events GROUP BY 1, 2"""))),

    Op("stream_ab_lift",
      // A/B experiment readout over the event stream — the
      // experimentation primitive every event-analytics engine ships:
      // users DETERMINISTICALLY assigned to arms by content hash
      // (the trainSplit md5-bucket convention — re-runs, replicas and
      // engines agree on every user's arm; a random() split would
      // neither replay nor hash-match), then per-arm funnel stats:
      // exposed users, converters (≥1 purchase), conversion rate,
      // purchase count and dsum-deterministic revenue. Two
      // map-combined aggregates (per-user collapse, then per-arm) —
      // |users| then 2 rows cross the shuffles at any scale.
      (s, d) => {
        val arm = when(
          conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 2 === 0, lit("A")).otherwise(lit("B"))
        val perUser = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_purch"),
            dsum(when(col("event_type") === "purchase", col("value"))
              .otherwise(lit(0.0))).as("revenue"))
          .withColumn("arm", arm)
        perUser.groupBy("arm")
          .agg(count(lit(1)).as("n_users"),
            sum(when(col("n_purch") > 0, 1L).otherwise(0L))
              .as("n_converted"),
            sum(col("n_purch")).as("n_purchases"),
            // re-accumulate the 6dp per-user doubles as DECIMAL: a
            // plain double sum is partial-order-dependent (dsum rule)
            dsum(col("revenue")).as("revenue"))
          .withColumn("conversion",
            round(col("n_converted").cast("double") /
              col("n_users").cast("double"), 6))
          .select("arm", "n_users", "n_converted", "conversion",
            "n_purchases", "revenue")
          .orderBy("arm")
      },
      Some("""WITH u AS (
                SELECT user_id,
                  CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS n_purch,
                  CAST(round(sum(CAST(
                    CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
                    AS DECIMAL(38,10))), 6) AS DOUBLE) AS revenue
                FROM events GROUP BY 1, 2)
              SELECT arm,
                count(*) AS n_users,
                CAST(sum(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_converted,
                round(CAST(sum(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*), 6) AS conversion,
                CAST(sum(n_purch) AS BIGINT) AS n_purchases,
                CAST(round(sum(CAST(revenue AS DECIMAL(38,10))), 6)
                  AS DOUBLE) AS revenue
              FROM u GROUP BY arm ORDER BY arm""")),

    Op("stream_ab_cuped",
      // CUPED variance reduction for the A/B readout (Deng et al.
      // 2013, WSDM — "Improving the Sensitivity of Online Controlled
      // Experiments"): the published estimator every experimentation
      // platform ships beside the raw lift. Pre-period revenue (days
      // before the corpus midpoint — the split derives from the data,
      // so driver regenerations move it correctly) is the covariate;
      // θ = cov(pre, post)/var(pre) POOLED across arms (the standard
      // form — θ from the pooled sample is assignment-independent),
      // adjusted mean = mean(post) − θ·(mean(pre) − grand mean(pre)).
      // Shape: per-user collapse (one shuffle), pooled moments = ONE
      // map-combined aggregate to five numbers (the regressionSql
      // discipline: cents-scaled exact ints in DECIMAL, finish ops a
      // fixed IEEE sequence), per-arm sums map-combined — 2 rows out
      // at any scale. Same md5 arm assignment as stream_ab_lift.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_cuped")
        s.sql(cupedSql("graft_ev_cuped"))
      },
      Some(cupedSql("events"))),

    Op("stream_ab_power",
      // pre-experiment power analysis — the fourth leg of the A/B
      // battery (lift / CUPED / SRM / power): how many users per arm
      // does a 5%-relative MDE on per-user revenue need at α=0.05,
      // 80% power? n/arm = 2·(z_{α/2}+z_β)²·σ²/δ² with the standard
      // 1.96 / 0.84 critical values as shared literals. σ² is the
      // exact sample variance from cents-scaled DECIMAL moments (the
      // regressionSql discipline), δ = 5% of the mean — every finish
      // op a fixed IEEE sequence, ceil to an exact long. ONE per-user
      // collapse + ONE map-combined moment aggregate; 1 row out.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_power")
        s.sql(powerSql("graft_ev_power"))
      },
      Some(powerSql("events"))),

    Op("stream_cohort_ltv",
      // cumulative cohort LTV — the revenue-side completion of
      // stream_retention_cohort (that op counts who came back; this
      // one accumulates what each signup-week cohort has SPENT by
      // age): cohort = user's first-seen week, age = event week −
      // cohort week, ltv = running Σ(purchase cents)/cohort size.
      // Shape: per-user first-day collapse (one user-keyed shuffle),
      // events re-join their cohort on the SAME user key (co-
      // partitioned — no broadcast of a corpus-sized user table),
      // then (cohort, age) cells collapse map-side and the running
      // sum windows over the bounded |cohorts|·|weeks| relation.
      // Cents exact longs end-to-end; two IEEE divisions finish.
      (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"),
          datediff(col("ts").cast("date"),
            to_date(lit("1970-01-01"))).as("eday"),
          when(col("event_type") === "purchase",
            round(col("value") * 100, 0).cast("long"))
            .otherwise(0L).as("cents"))
        val firstSeen = e.groupBy("user_id")
          .agg(expr("min(eday) DIV 7").as("cohort_week"))
        val sized = firstSeen.groupBy("cohort_week")
          .agg(countDistinct(col("user_id")).as("cohort_size"))
        val cells = e.join(firstSeen, Seq("user_id"))
          .withColumn("age_week",
            expr("eday DIV 7") - col("cohort_week"))
          .groupBy("cohort_week", "age_week")
          .agg(sum(col("cents")).as("cell_cents"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cohort_week").orderBy("age_week")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        cells.withColumn("cum_cents", sum(col("cell_cents")).over(w))
          .join(broadcast(sized), Seq("cohort_week"))
          .select(col("cohort_week").cast("long").as("cohort_week"),
            col("age_week").cast("long").as("age_week"),
            col("cohort_size"),
            round(col("cum_cents").cast("double") /
              col("cohort_size").cast("double") / lit(100.0), 6)
              .as("ltv"))
          .orderBy("cohort_week", "age_week")
      },
      Some("""WITH e AS (
                SELECT user_id,
                  (CAST(CAST(ts AS TIMESTAMP) AS DATE)
                   - DATE '1970-01-01') AS eday,
                  CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END AS cents
                FROM events),
              fs AS (
                SELECT user_id, min(eday) // 7 AS cohort_week
                FROM e GROUP BY user_id),
              sz AS (
                SELECT cohort_week,
                  count(DISTINCT user_id) AS cohort_size
                FROM fs GROUP BY cohort_week),
              cells AS (
                SELECT fs.cohort_week,
                  (e.eday // 7) - fs.cohort_week AS age_week,
                  CAST(sum(e.cents) AS BIGINT) AS cell_cents
                FROM e JOIN fs ON e.user_id = fs.user_id
                GROUP BY 1, 2),
              c AS (
                SELECT cohort_week, age_week,
                  CAST(sum(cell_cents) OVER (PARTITION BY cohort_week
                    ORDER BY age_week
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents
                FROM cells)
              SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
                CAST(c.age_week AS BIGINT) AS age_week,
                CAST(sz.cohort_size AS BIGINT) AS cohort_size,
                round(CAST(c.cum_cents AS DOUBLE) /
                  CAST(sz.cohort_size AS DOUBLE) / 1e2, 6) AS ltv
              FROM c JOIN sz ON c.cohort_week = sz.cohort_week
              ORDER BY cohort_week, age_week""")),

    Op("stream_feature_staleness",
      // feature-store freshness report — the SLA surface behind
      // join_pit_features (that op SERVES point-in-time features;
      // this one answers "how stale is what we'd serve RIGHT NOW"):
      // staleness = corpus watermark minus each user's latest
      // activity, reported as a per-day histogram with cumulative
      // coverage ("95% of users have features fresher than N days" —
      // the number an SLA quotes). One per-user max (map-combined),
      // a 1-row watermark broadcast, then a histogram on the bounded
      // day grid; the cumulative rides the grid relation. Exact
      // integer days; one IEEE division per row.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_stale")
        s.sql(stalenessSql("graft_ev_stale", spark = true))
      },
      Some(stalenessSql("events", spark = false))),

    Op("stream_path_triples",
      // top 3-step user journeys — the Sankey/flow report one order
      // above stream_markov_transition's pair matrix (a 2-step
      // matrix can't distinguish view→click→purchase from
      // view→click→error; the triple ranking can): two leads over
      // each user's (ts, event_id)-ordered sequence give every event
      // its 2-successor path with no self-join, the triple counts
      // collapse map-side to the ≤|types|³ relation, and the top-10
      // rank runs on that bounded relation. share = one IEEE
      // division of exact longs.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_paths")
        s.sql(pathTriplesSql("graft_ev_paths", spark = true))
      },
      Some(pathTriplesSql("events", spark = false))),

    Op("stream_growth_accounting",
      // DAU growth accounting — the decomposition every growth team
      // reports (new + retained + resurrected = today's actives;
      // churned = yesterday's actives who didn't return): classify
      // each (user, active-day) row by the user's PREVIOUS active
      // day (none → new; d−1 → retained; earlier → resurrected) and
      // charge churn to d+1 when the NEXT active day skips it — one
      // lag + one lead over the per-user activity sequence, so the
      // identity dau(d) = new + retained + resurrected and
      // churned(d) = dau(d−1) − retained(d) hold exactly by
      // construction. Distinct (user, day) collapse map-side; the
      // windows run per user (bounded by a user's active days); the
      // day report is calendar-bounded. Reported for active days
      // (the fixture has activity every day).
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_growth")
        s.sql(growthSql("graft_ev_growth", spark = true))
      },
      Some(growthSql("events", spark = false))),

    Op("stream_bounce_rate",
      // daily bounce rate — the web-analytics KPI over the SAME 30 m
      // sessionization win_session materializes: a session that
      // contains exactly one event bounced, and the day (of session
      // start) aggregates the rate. Sessionize (one user-keyed
      // shuffle, lag + running-sum with an event_id tiebreak so tied
      // timestamps order totally), collapse to sessions, then a
      // bounded per-day aggregate — exact longs + one IEEE division.
      // r22: sessionize reads the session-memoized interval relation
      // ([[sess30View]]); per-call work = the daily aggregate.
      (s, d) => {
        sess30View(s, d)
        s.sql(bounceSparkSql)
      },
      Some(bounceSql("events", spark = false))),

    Op("stream_outage_mttr",
      // incident extraction — the reliability ledger burn_rate's
      // pages feed: consecutive hours whose error rate clears the
      // 25% threshold coalesce into ONE incident (the gaps-and-
      // islands move: h − row_number over breach hours is constant
      // within an unbroken run), each reported with start/end,
      // duration and peak rate — the rows MTTR/MTBF summaries
      // average. Hourly counts collapse map-side; islands form on
      // the bounded breach-hour relation; rates are exact longs +
      // one IEEE division. The 25% line sits above the uniform
      // fixture's 20% base rate, so incidents are the NOISE TAIL —
      // present at every SF, sparse by construction.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_mttr")
        s.sql(mttrSql("graft_ev_mttr", spark = true))
      },
      Some(mttrSql("events", spark = false))),

    Op("stream_peak_concurrency",
      // peak concurrent sessions per day — the capacity-planning
      // number every serving team sizes fleets by (licenses, pool
      // sizes, connection limits): sweep-line over the SAME 30 m
      // sessions win_session materializes, +1 at session start, −1
      // at session end (ends before starts at a tied microsecond —
      // the conservative back-to-back convention), daily peak = max
      // prefix sum + the sessions already open at the day boundary.
      // The sweep itself is the single-partition hazard class the
      // exact-percentile trio guards against, so it runs TWO-LEVEL
      // (the llm_token_budget discipline): running sums partition by
      // (day, HOUR), a 24-row-per-day window turns hourly totals
      // into offsets, and straddling sessions explode once per
      // spanned day into a per-day base — no window ever holds more
      // than one hour of edges at any corpus size. All-integer.
      // r22: the five-way re-derived sessionize subtree reads the
      // session-memoized interval relation instead ([[sess30View]]);
      // per-call work = spanDays explode + edge windows + the joins.
      (s, d) => {
        sess30View(s, d)
        s.sql(concurrencySparkSql)
      },
      Some(concurrencySql("events", spark = false))),

    Op("stream_stickiness",
      // DAU/WAU stickiness — the engagement ratio every consumer
      // product reports ("what share of this week's users showed up
      // today"): WAU(d) = distinct users active in [d−6, d]. Neither
      // engine has COUNT(DISTINCT) over a sliding frame; the
      // scale-correct form is the bounded ×7 FORWARD explode — each
      // distinct (user, day) row supports exactly the 7 window days
      // it can be counted in, so the rolling distinct becomes a
      // plain distinct + count on (user, window-day). Activity
      // collapses to user-day map-side first (the explode runs on
      // the collapsed relation, never the event stream); one
      // distinct shuffle; counts map-combine; report is
      // calendar-bounded. Exact longs + one IEEE division.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_stick")
        s.sql(stickinessSql("graft_ev_stick", spark = true))
      },
      Some(stickinessSql("events", spark = false))),

    Op("stream_interarrival",
      // inter-arrival burstiness — the traffic-shape profiler behind
      // every queueing/capacity model (Poisson arrivals have CV=1,
      // B=0; human sessions are bursty, schedulers/bots are regular —
      // Goh & Barabási's B = (σ−μ)/(σ+μ) is the standard one-number
      // read): per-(user, type) consecutive gaps via ONE lag over the
      // user-keyed sequence (bounded per user — never a global
      // order), then one map-combined moment aggregate per type.
      // Moments are exact DECIMAL integer sums (the regressionSql
      // discipline; gaps square past BIGINT), variance by the
      // exact-moment identity, CV and B as fixed IEEE sequences.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_iat")
        s.sql(interarrivalSql("graft_ev_iat", spark = true))
      },
      Some(interarrivalSql("events", spark = false))),

    Op("stream_ab_ratio_delta",
      // delta-method test for RATIO metrics (Deng et al., KDD 2018's
      // "ratio metrics" problem) — the fifth leg of the A/B battery:
      // revenue-per-click compares Σx/Σy between arms, and the naive
      // per-user t-test is WRONG because the ratio of sums is not a
      // mean of per-user ratios; the delta method propagates per-user
      // (x, y) covariance through the ratio: var(R) ≈ (σx² − 2Rσxy +
      // R²σy²)/(n·μy²). Per-user collapse (one shuffle), per-arm
      // moments = ONE map-combined aggregate to six exact DECIMAL
      // numbers (ttestSql widths), fixed IEEE finish on a 1-row
      // relation; same md5 arms as the rest of the battery.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_ratio")
        s.sql(ratioDeltaSql("graft_ev_ratio", spark = true))
      },
      Some(ratioDeltaSql("events", spark = false))),

    Op("stream_mix_drift",
      // daily event-mix entropy + Jensen–Shannon drift — the
      // composition monitor beside table_drift_psi (PSI watches ONE
      // numeric column's banding; this watches the categorical MIX
      // day over day): entropy says how concentrated today's traffic
      // is, JSD vs yesterday says how far the mix moved (symmetric,
      // bounded ≤ ln 2 — KL's asymmetry and infinities make it the
      // wrong monitor when types appear/vanish, which JSD handles by
      // construction). Daily (type, count) cells collapse map-side;
      // entropy/JSD run on the bounded |days|·|types| relation; the
      // day-over-day pairing is a FULL join on (type, d = d−1) so
      // births and deaths both contribute.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_mix")
        s.sql(mixDriftSql("graft_ev_mix", spark = true))
      },
      Some(mixDriftSql("events", spark = false))),

    Op("stream_new_vs_returning",
      // new-vs-returning revenue split — the acquisition-vs-retention
      // ledger beside stream_growth_accounting (that op counts WHO
      // moved between states; this one says what each state is WORTH
      // today — the number that decides whether growth is bought or
      // earned): a user's first active day marks them new exactly
      // once, every later day returning. Per-(user, day) collapse
      // map-side, first-day = one more user-keyed aggregate, the
      // classify join re-uses the SAME user key (co-partitioned, no
      // second shuffle shape), then a bounded per-day split. Exact
      // cents, one IEEE share with a zero-revenue guard.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_nvr")
        s.sql(newVsReturningSql("graft_ev_nvr", spark = true))
      },
      Some(newVsReturningSql("events", spark = false))),

    Op("stream_heatmap_dow_hour",
      // day-of-week × hour traffic heatmap — the load-shape view
      // capacity planning reads next to stream_peak_concurrency
      // (peak says how high; the heatmap says WHEN, and is the
      // input to autoscaling schedules and maintenance windows):
      // counts per (dow, hour) cell with each cell's share of its
      // day and a peak-hour flag. Dow/hour are PURE epoch integer
      // arithmetic ((eday+4) mod 7 — the house convention, no engine
      // week/timezone hazard); the corpus collapses to ≤168 cells in
      // ONE map-combined aggregate; everything after is bounded.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_heat")
        s.sql(heatmapSql("graft_ev_heat", spark = true))
      },
      Some(heatmapSql("events", spark = false))),

    Op("cdc_tombstone_gc",
      // tombstone garbage-collection audit — the compaction-planning
      // question every log-compacted store answers before purging
      // (Kafka compaction, lakehouse VACUUM): a delete whose pk never
      // reappears is a LIVE tombstone that must be retained until
      // consumers past the retention horizon have seen it; a delete
      // followed by any later write was resurrected and its tombstone
      // is dead weight immediately. One lead() per pk over the same
      // envelope order cdc_envelope_full replays (user-keyed window,
      // bounded per pk), GC-safety = age vs the corpus watermark
      // minus 7 days (1-row broadcast), per-day report. All-integer.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_tomb")
        s.sql(tombstoneGcSql("graft_ev_tomb", spark = true))
      },
      Some(tombstoneGcSql("events", spark = false))),

    Op("stream_user_lorenz",
      // user-concentration Lorenz curve — "what share of traffic and
      // revenue comes from the most active users", the capacity/abuse
      // planning read beside agg_gini (gini is the one-number
      // inequality; this is the CURVE, cut at every activity level):
      // users collapse to per-user (count, cents) once, then to the
      // ACTIVITY-COUNT grid — support bounded by max per-user
      // activity, never user cardinality, so the cumulative windows
      // run over the bounded grid (the ks_test argument, applied to
      // a user dimension). Exact longs/cents + IEEE shares.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_lorenz")
        s.sql(userLorenzSql("graft_ev_lorenz"))
      },
      Some(userLorenzSql("events"))),

    Op("stream_streaks",
      // activity-streak distribution — the engagement-mechanics
      // number behind every "N-day streak" product surface (and the
      // habit-formation read growth teams track beside
      // stream_stickiness: stickiness is a ratio of presence, streaks
      // measure CONSECUTIVENESS): win_gaps_islands' rewrite applied
      // at the (user, day) grain — d − row_number() is constant
      // within an unbroken run — collapsed to each user's longest
      // streak and reported as a calendar-bounded histogram with
      // user shares. Distinct (user, day) collapses map-side;
      // windows run per user (bounded by a user's active days); the
      // histogram is ≤|days| rows. All-integer + one IEEE share.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_streak")
        s.sql(streaksSql("graft_ev_streak", spark = true))
      },
      Some(streaksSql("events", spark = false))),

    Op("stream_ab_aa_calibration",
      // A/A calibration — the self-test an experimentation platform
      // runs BEFORE anyone trusts its p-values (Kohavi's standard
      // prescription: assign users to 16 deliberately-null salted
      // splits; if the stack is calibrated, ~5% read significant at
      // 1.96 — a higher rate means broken variance estimation or
      // correlated units, and every real readout is suspect): the
      // per-user revenue collapse happens ONCE, the ×16 split
      // explode runs on the collapsed |users| relation (bounded
      // map-side Generate, never the event stream), each split's
      // Welch t comes from the same exact DECIMAL moment pipeline as
      // stream_ab_ttest, and the report is one row.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_aa")
        s.sql(aaCalibrationSql("graft_ev_aa", spark = true))
      },
      Some(aaCalibrationSql("events", spark = false))),

    Op("stream_apdex",
      // Apdex score (Application Performance Index — the industry
      // user-satisfaction SLA number): satisfied ≤ T, tolerating ≤
      // 4T, frustrated beyond, score = (sat + tol/2)/n per day, on
      // view-event values as the latency proxy with the fixed
      // T=25.00 threshold pair (thresholds are a product contract,
      // not a data quantile — shared literals). ONE map-combined
      // conditional aggregate to the bounded day relation;
      // exact longs + one IEEE finish.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_apdex")
        s.sql(apdexSql("graft_ev_apdex", spark = true))
      },
      Some(apdexSql("events", spark = false))),

    Op("stream_ab_exposure_drift",
      // exposure-drift / ramp monitor — stream_ab_srm run PER DAY
      // instead of once at readout (the production difference:
      // a split that passes the end-of-experiment SRM can still have
      // broken days — a bad deploy, a one-sided cache — and the daily
      // series localizes WHEN assignment broke, which the pooled test
      // cannot): distinct (day, user, arm) exposures collapse
      // map-side, one-df chi-squared vs 50/50 per day on the bounded
      // day relation, breach at the 95% critical value. Same md5
      // arms as the whole A/B battery. Exact longs + fixed IEEE.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_expo")
        s.sql(exposureDriftSql("graft_ev_expo", spark = true))
      },
      Some(exposureDriftSql("events", spark = false))),

    Op("agg_overdispersion",
      // variance-to-mean dispersion index (the Poisson-fit check) —
      // the modeling gate BEFORE anyone fits count models or sizes
      // anomaly thresholds on per-user activity (Poisson ⇒ index 1;
      // real user counts are negative-binomial-ish, index ≫ 1, and a
      // z-threshold calibrated on a Poisson assumption pages
      // constantly): per-(user, type) counts map-side, exact DECIMAL
      // integer moments per type (ONE map-combined aggregate), the
      // index and its verdict as fixed IEEE sequences. Complements
      // stream_interarrival (burstiness in TIME; dispersion in
      // COUNTS).
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_disp")
        s.sql(overdispersionSql("graft_ev_disp"))
      },
      Some(overdispersionSql("events"))),

    Op("stream_bootstrap_ci",
      // Poisson bootstrap CI (Chamandy et al., Google 2012 —
      // "Estimating Uncertainty for Massive Data Streams"): THE
      // at-scale bootstrap. Classical multinomial resampling needs N
      // draws per replicate over a shared counter — impossible
      // distributed; Poisson(1) weights per (unit, replicate) are
      // independent, so 32 replicates ride ONE bounded ×32 explode
      // of the collapsed per-user relation, map-side. Determinism by
      // the house no-RNG rule: the weight is the inverse-CDF of an
      // md5-uniform (content-keyed — same user, same replicate, same
      // weight on every run and engine; the dsir Gumbel precedent),
      // with the cumulative Poisson(1) CDF as shared decimal
      // literals. Replicate means are exact-int weighted sums + one
      // IEEE division; the 95% CI is a rank cut on the 32-row
      // replicate relation. 1 row out at any scale.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_boot")
        s.sql(bootstrapCiSql("graft_ev_boot", spark = true))
      },
      Some(bootstrapCiSql("events", spark = false))),

    Op("stream_ab_bootstrap_diff",
      // bootstrap CI of the treatment effect — the NONPARAMETRIC leg
      // that completes the inference triangle (stream_ab_ttest
      // assumes normal-enough means, stream_ab_ratio_delta a
      // first-order Taylor expansion; the bootstrap assumes only
      // exchangeability — when revenue is whale-heavy the three
      // disagree and the bootstrap is the referee): per replicate,
      // the difference of Poisson-weighted arm means (same md5 arms
      // as the battery, same content-keyed Poisson(1) weights as
      // stream_bootstrap_ci — ONE bounded ×32 map-side explode of
      // the per-user collapse), 95% CI a rank cut on the 32-row
      // replicate relation; significant ⟺ the CI excludes 0.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_bdiff")
        s.sql(bootstrapDiffSql("graft_ev_bdiff", spark = true))
      },
      Some(bootstrapDiffSql("events", spark = false))),

    Op("stream_ab_sequential",
      // group-sequential monitoring (O'Brien & Fleming 1979; Pocock
      // 1977) — the feature that makes PEEKING safe: five
      // evenly-spaced looks over the experiment window, each with a
      // Welch z against the OBF spending boundary (very conservative
      // early — 4.88 at look 1 — relaxing to ≈1.96-adjacent at the
      // final look, so overall α stays 0.05 however often you look;
      // naive daily peeking at 1.96 inflates false positives ~5×,
      // which is why every mature platform ships exactly this).
      // Look cuts derive from the data's date range (regenerations
      // move them correctly); per-(look, user) revenue rides ONE
      // bounded ×5 join of the user-day collapse against the 5-row
      // cut table; per-look moments are the ttestSql exact DECIMAL
      // pipeline; boundaries are shared exponent-form literals.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_seq")
        s.sql(sequentialSql("graft_ev_seq", spark = true))
      },
      Some(sequentialSql("events", spark = false))),

    Op("stream_retention_halflife",
      // retention half-life — the one-number summary of
      // stream_retention_cohort's matrix (every retention curve is
      // ≈ exponential after day 1, so the fitted decay's half-life
      // IS the comparable metric across products/cohorts — "how many
      // days until half the cohort is gone"): day-0 cohort retention
      // rate by age, ln-linear OLS over the bounded age relation
      // (the llm_zipf_slope discipline — 10dp terms, DECIMAL
      // reaccumulation), half-life = ln 2 / (−slope) with ln 2 as a
      // shared decimal literal. Cohort membership = one user-keyed
      // aggregate; everything after the age collapse is bounded.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_hl")
        s.sql(retentionHalflifeSql("graft_ev_hl", spark = true))
      },
      Some(retentionHalflifeSql("events", spark = false))),

    Op("stream_ab_hash_uniformity",
      // hash-assignment uniformity audit — the meta-test under the
      // whole A/B battery (lift/CUPED/SRM/ttest/ratio/sequential all
      // trust the md5 arm split; a biased bucket function breaks
      // every one of them at once, which is why platforms audit the
      // hasher itself, not just each experiment's SRM): distinct
      // users into 256 md5 buckets, chi-squared vs uniform at the
      // df=255 95% critical value (Wilson–Hilferty literal). Bucket
      // counts collapse map-side; chi2 terms round 10dp and
      // re-accumulate through DECIMAL over the 256-row relation.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_hashu")
        s.sql(hashUniformitySql("graft_ev_hashu", spark = true))
      },
      Some(hashUniformitySql("events", spark = false))),

    Op("stream_dow_anova",
      // one-way ANOVA across day-of-week — the significance readout
      // over win_seasonal_dow's profile (the profile shows per-dow
      // means; ANOVA says whether the weekly pattern is REAL or
      // noise, and η² says how much of the variance it explains —
      // the pair win_seasonal_strength approximates from the
      // residual side): F = MS_between/MS_within on daily cents
      // totals, all from exact DECIMAL group moments (the
      // regressionSql discipline), fixed IEEE finish on a 1-row
      // relation; the ≥3.0 flag is a conservative fixed literal
      // (the exact F quantile needs the incomplete beta — the
      // stream_ab_ttest 1.96 precedent).
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_anova")
        s.sql(dowAnovaSql("graft_ev_anova", spark = true))
      },
      Some(dowAnovaSql("events", spark = false))),

    Op("stream_ab_ttest",
      // Welch's unequal-variance t-test on per-user revenue between
      // arms — the significance readout over stream_ab_lift's means
      // (Welch 1947; the default two-sample test of every modern
      // experimentation platform — pooled-variance Student's t is
      // wrong under variance heterogeneity, which revenue always
      // has). t = (m_A − m_B)/sqrt(v_A/n_A + v_B/n_B), df by
      // Welch–Satterthwaite; the flag |t| ≥ 1.96 is the z
      // approximation (df in the thousands here — the normal and t
      // quantiles agree to 3 decimals; an exact t quantile needs the
      // incomplete beta, i.e. libm). Per-arm moments are cents-exact
      // DECIMAL sums (regressionSql discipline) map-side combined
      // after ONE per-user collapse; the finish is a fixed IEEE
      // sequence on a 2-row relation. 1 row out.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_ttest")
        s.sql(ttestSql("graft_ev_ttest", spark = true))
      },
      Some(ttestSql("events", spark = false))),

    Op("stream_burn_rate",
      // SLO error-budget burn-rate alerting (the Google SRE workbook
      // multi-window rule): per hour, the error ratio in the trailing
      // 1 h and 6 h windows expressed as burn MULTIPLES of a 1% error
      // budget; a page fires only when BOTH windows burn ≥ 6× — the
      // long window keeps a transient spike from paging, the short
      // window ends the page promptly once the bleed stops. Counts
      // collapse to the bounded hourly relation in ONE map-combined
      // pass; both trailing windows run over that calendar-bounded
      // relation; each rate is exact longs + one IEEE division.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_burn")
        s.sql(burnRateSql("graft_ev_burn", spark = true))
      },
      Some(burnRateSql("events", spark = false))),

    Op("stream_ab_srm",
      // sample-ratio-mismatch guard — the validity check that must
      // pass BEFORE any A/B readout is trusted (a skewed split means
      // broken assignment, not a treatment effect; the classic
      // silent-killer of experiment platforms): distinct users per
      // arm vs the expected 50/50, one-df chi-squared, flagged at the
      // 95% critical value 3.841. Counts are exact longs off ONE
      // per-user collapse; the statistic is a fixed IEEE sequence on
      // a 1-row relation. Same md5 arm assignment as stream_ab_lift,
      // so a broken upstream split surfaces HERE first.
      (s, d) => {
        val arm = when(
          conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 2 === 0, lit("A")).otherwise(lit("B"))
        val users = Tables.events(s, d)
          .select(col("user_id")).distinct()
          .withColumn("arm", arm)
        val counts = users.agg(
          sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
        counts.select(col("n_a"), col("n_b"),
            (((col("n_a") + col("n_b")).cast("double")) / 2.0).as("e"))
          .select(col("n_a"), col("n_b"),
            round((col("n_a").cast("double") - col("e")) *
              (col("n_a").cast("double") - col("e")) / col("e") +
              (col("n_b").cast("double") - col("e")) *
              (col("n_b").cast("double") - col("e")) / col("e"), 6)
              .as("chi2"))
          .withColumn("srm", col("chi2") > 3.841)
      },
      Some("""WITH u AS (
                SELECT DISTINCT user_id,
                  CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
                FROM events),
              c AS (
                SELECT
                  CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_a,
                  CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_b
                FROM u),
              e AS (
                SELECT n_a, n_b,
                  CAST(n_a + n_b AS DOUBLE) / 2e0 AS e
                FROM c)
              SELECT n_a, n_b,
                round((CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e
                    + (CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e,
                  6) AS chi2,
                round((CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e
                    + (CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e,
                  6) > 3841e-3 AS srm
              FROM e""")),

    Op("stream_rfm",
      // RFM segmentation (recency / frequency / monetary) over the
      // purchase stream — the marketing-analytics staple beside the
      // retention cohort: who buys recently, often, and big. Scores
      // use FIXED published boundaries (a CASE ladder), not quantile
      // ranks: the textbook quintile form is a global ntile — exactly
      // the single-partition window the equidepth gate exists for —
      // and fixed boundaries are what production scorecards deploy
      // anyway (stable across refreshes; ranks reshuffle every run).
      // Recency in exact epoch-day ints against the corpus max day
      // (1-row broadcast scalar); monetary is dsum-deterministic.
      // One map-combined groupBy on user, then pure map scoring —
      // nothing wider than |buyers| crosses a shuffle at any scale.
      (s, d) => {
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            datediff(col("ts").cast("date"),
              to_date(lit("1970-01-01"))).as("eday"),
            col("value"))
        val agg = p.groupBy("user_id")
          .agg(max(col("eday")).as("u_eday"),
            count(lit(1)).as("n_purch"),
            dsum(col("value")).as("monetary"))
        val mx = p.agg(max(col("eday")).as("mx"))
        agg.crossJoin(broadcast(mx))
          .withColumn("rec_days", (col("mx") - col("u_eday")).cast("int"))
          .withColumn("r_score",
            when(col("rec_days") <= 1, 3).when(col("rec_days") <= 4, 2)
              .otherwise(1))
          .withColumn("f_score",
            when(col("n_purch") >= 16, 3).when(col("n_purch") >= 10, 2)
              .otherwise(1))
          .withColumn("m_score",
            when(col("monetary") >= 800.0, 3)
              .when(col("monetary") >= 400.0, 2).otherwise(1))
          .withColumn("rfm",
            (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
              .cast("int"))
          .withColumn("segment",
            when(col("rfm") === 333, lit("champion"))
              .when(col("r_score") === 3 && col("f_score") >= 2,
                lit("loyal"))
              .when(col("r_score") === 1 && col("f_score") >= 2,
                lit("at_risk"))
              .when(col("r_score") === 1, lit("lost"))
              .otherwise(lit("regular")))
          .select("user_id", "rec_days", "n_purch", "monetary",
            "r_score", "f_score", "m_score", "rfm", "segment")
          .orderBy("user_id")
      },
      Some("""WITH p AS (
                SELECT user_id,
                  CAST(date_diff('day', DATE '1970-01-01',
                    CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS eday,
                  value
                FROM events WHERE event_type = 'purchase'),
              a AS (
                SELECT user_id, max(eday) AS u_eday,
                  count(*) AS n_purch,
                  CAST(round(sum(CAST(value AS DECIMAL(38,10))), 6) AS DOUBLE)
                    AS monetary
                FROM p GROUP BY user_id),
              m AS (SELECT max(eday) AS mx FROM p),
              sc AS (
                SELECT a.user_id, CAST(m.mx - a.u_eday AS INTEGER)
                    AS rec_days,
                  a.n_purch, a.monetary,
                  CASE WHEN m.mx - a.u_eday <= 1 THEN 3
                       WHEN m.mx - a.u_eday <= 4 THEN 2 ELSE 1 END
                    AS r_score,
                  CASE WHEN a.n_purch >= 16 THEN 3
                       WHEN a.n_purch >= 10 THEN 2 ELSE 1 END AS f_score,
                  CASE WHEN a.monetary >= 800.0 THEN 3
                       WHEN a.monetary >= 400.0 THEN 2 ELSE 1 END AS m_score
                FROM a, m)
              SELECT user_id, rec_days, n_purch, monetary,
                r_score, f_score, m_score,
                CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER)
                  AS rfm,
                CASE WHEN r_score * 100 + f_score * 10 + m_score = 333
                       THEN 'champion'
                     WHEN r_score = 3 AND f_score >= 2 THEN 'loyal'
                     WHEN r_score = 1 AND f_score >= 2 THEN 'at_risk'
                     WHEN r_score = 1 THEN 'lost'
                     ELSE 'regular' END AS segment
              FROM sc ORDER BY user_id""")),

    Op("stream_retention_cohort",
      // weekly retention cohorts — the OTHER product-analytics staple
      // next to stream_funnel_conversion: users grouped by their
      // signup week (cohort), then for each later week the fraction
      // of the cohort still active. Week ids are absolute
      // epoch-week numbers (days-since-1970 DIV 7) — NOT ISO
      // week-of-year, whose year-boundary semantics differ between
      // engines. Shape at 100 TB: one map-combined min-aggregate
      // collapses the log to |users| first-seen rows; the activity
      // join is a user_id equi-join (co-partitioned with the
      // aggregate's exchange); the per-(user, week) distinct
      // collapses before the tiny (cohort, offset) aggregate, so
      // nothing wider than |users|×|active weeks| ever crosses a
      // shuffle. retention is ONE IEEE division of two exact longs —
      // bit-identical across engines, no rounding.
      (s, d) => {
        val e = Tables.events(s, d)
        val firstSeen = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("t0"))
          .select(col("user_id"),
            expr("datediff(CAST(t0 AS DATE), DATE '1970-01-01') DIV 7")
              .as("cohort_week"))
        val active = e
          .select(col("user_id"),
            expr("datediff(CAST(ts AS DATE), DATE '1970-01-01') DIV 7")
              .as("wk"))
          .join(firstSeen, "user_id")
          .filter(col("wk") >= col("cohort_week"))
          .select(col("user_id"), col("cohort_week"),
            (col("wk") - col("cohort_week")).as("week_offset"))
          .distinct()
        val cohortSize = firstSeen.groupBy("cohort_week")
          .agg(count(lit(1)).as("n_cohort"))
        active.groupBy("cohort_week", "week_offset")
          .agg(count(lit(1)).as("n_active"))
          .join(cohortSize, "cohort_week")
          .select(col("cohort_week"), col("week_offset"),
            col("n_active"), col("n_cohort"),
            (col("n_active") / col("n_cohort")).as("retention"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH fs AS (
                SELECT user_id,
                  date_diff('day', DATE '1970-01-01',
                    CAST(min(CAST(ts AS TIMESTAMP)) AS DATE)) // 7
                    AS cohort_week
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
              act AS (
                SELECT DISTINCT e.user_id, fs.cohort_week,
                  date_diff('day', DATE '1970-01-01',
                    CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) // 7
                    - fs.cohort_week AS week_offset
                FROM events e JOIN fs ON e.user_id = fs.user_id
                WHERE date_diff('day', DATE '1970-01-01',
                    CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) // 7
                  >= fs.cohort_week),
              cs AS (SELECT cohort_week, count(*) AS n_cohort
                     FROM fs GROUP BY cohort_week),
              aw AS (SELECT cohort_week, week_offset, count(*) AS n_active
                     FROM act GROUP BY cohort_week, week_offset)
              SELECT aw.cohort_week AS cohort_week, week_offset,
                n_active, n_cohort,
                n_active / n_cohort AS retention
              FROM aw JOIN cs ON aw.cohort_week = cs.cohort_week
              ORDER BY cohort_week, week_offset""")),

    Op("stream_anomaly_zscore",
      // trailing-window anomaly detection — the monitoring query a
      // meepo-style event bus feeds: per event_type hourly volumes,
      // each hour z-scored against the PRECEDING 24 observed hours
      // (never including itself — self-inclusion dilutes the very
      // spike being tested). Exactness across engines without
      // rounding: the window carries only INTEGER moment sums
      // (Σx, Σx², n over a ROWS frame on the unique hour key), and
      // the z finish step is ONE shared, fully-parenthesized
      // expression string evaluated by both engines — identical IEEE
      // ops in identical order on identical exact operands ⇒
      // bit-identical doubles (the bm25/agg_stats_moments pattern;
      // sqrt/÷/×/− are all correctly-rounded per IEEE-754). Guards:
      // z is NULL until 12 observations exist and when the trailing
      // variance is 0 (division by zero yields engine-dependent
      // inf/NaN renderings — gated out, not compared). Shape at
      // 100 TB: the raw log collapses map-side to |types|×|hours|
      // rows in ONE partial-aggregated pass; the window sorts only
      // that collapsed relation per type. The moment sums are the
      // same six-numbers-per-frame state agg_stats_moments ships —
      // bounded, map-combinable, no per-row buffering.
      // the hourly aggregate + z finish live in
      // [[EventStreams.anomalyZscoreFinish]], shared verbatim with
      // the streaming twin ([[EventStreams.hourlyCountsStream]] →
      // assembleAnomalyZscore) so twin ≡ batch is an identity
      (s, d) => EventStreams.anomalyZscoreFinish(
        Tables.events(s, d)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 3600000000").as("hour_id"))
          .agg(count(lit(1)).as("x"))),
      Some("""WITH hourly AS (
                SELECT event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_id,
                  count(*) AS x
                FROM events GROUP BY 1, 2),
              st AS (
                SELECT event_type, hour_id, x,
                  sum(x) OVER w AS s,
                  sum(x * x) OVER w AS sq,
                  count(*) OVER w AS n_obs
                FROM hourly
                WINDOW w AS (PARTITION BY event_type ORDER BY hour_id
                             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
              z AS (
                SELECT event_type, hour_id, x, n_obs,
                  CASE WHEN n_obs >= 12
                        AND (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)*s/n_obs) > 0
                       THEN (CAST(x AS DOUBLE) - CAST(s AS DOUBLE)/n_obs)
                            / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)*s/n_obs)
                                   /(n_obs-1))
                  END AS z
                FROM st)
              SELECT event_type, hour_id, x,
                CAST(n_obs AS BIGINT) AS n_obs, z,
                abs(z) > 3.0 AS is_anomaly
              FROM z ORDER BY event_type, hour_id""")),

    Op("win_fill_forward",
      // LOCF (last observation carried forward) — the other half of
      // time-series repair next to win_gap_fill's zero-fill: a sensor
      // stream where error readings are voided keeps reporting the
      // last good value. Nulls are planted deterministically (every
      // 'error' row voids its reading); the fill is last(...,
      // ignoreNulls) over a ROWS UNBOUNDED PRECEDING frame ordered by
      // the total (ts, event_id) key — both engines walk the same
      // order, the value passes through bit-unchanged (no
      // arithmetic). One shuffle on user_id, bounded per-partition
      // state; the frame is running, so Spark evaluates it in one
      // pass, never re-scanning the preceding rows per row.
      //
      // Streaming twin: EventStreams.fillForward. Its precondition is
      // STRONGER than this batch window's: micro-batches must arrive
      // in (ts_us, event_id) order PER KEY across batches (in-batch
      // disorder is sorted inside the processor; a cross-batch
      // straggler older than the carried reading is ignored by the
      // state guard rather than re-filled — binlog-position-ordered
      // CDC feeds satisfy this, arbitrary event streams need the
      // watermark ops instead). The batch window has no such
      // precondition: one global per-key sort sees every row.
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("reading",
            when(col("event_type") === "error", lit(null).cast("double"))
              .otherwise(col("value")))
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("reading"),
            last(col("reading"), ignoreNulls = true).over(w).as("reading_ffill"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
                epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                CASE WHEN event_type = 'error' THEN NULL
                     ELSE value END AS reading,
                last_value(CASE WHEN event_type = 'error' THEN NULL
                                ELSE value END IGNORE NULLS)
                  OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS reading_ffill
              FROM events ORDER BY event_id""")),

    Op("stream_markov_transition",
      // first-order Markov transition matrix over the event stream:
      // P(next event_type | event_type) per user-ordered sequence —
      // the behavioral model a product-analytics/anomaly layer fits.
      // lead() over (user, ts, event_id) gives each event its
      // successor with no self-join; the pair counts collapse to
      // |types|² rows before the tiny per-from window normalizes.
      // prob is ONE IEEE division of exact longs — bit-identical, no
      // rounding. 100 TB: one shuffle on user_id for the sequence
      // window (bounded per-user state), then a map-combined pair
      // aggregate; nothing wider than |types|² reaches the driver-less
      // final window.
      (s, d) => {
        val seq = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        val perFrom = Window.partitionBy("from_type")
        Tables.events(s, d)
          .select(col("user_id"), col("event_type").as("from_type"),
            lead(col("event_type"), 1).over(seq).as("to_type"))
          .filter(col("to_type").isNotNull)
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n_trans"))
          .select(col("from_type"), col("to_type"), col("n_trans"),
            (col("n_trans").cast("double") /
              sum(col("n_trans")).over(perFrom).cast("double")).as("prob"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH p AS (
                SELECT event_type AS from_type,
                  lead(event_type, 1) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
                    AS to_type
                FROM events),
              c AS (
                SELECT from_type, to_type, count(*) AS n_trans
                FROM p WHERE to_type IS NOT NULL
                GROUP BY from_type, to_type)
              SELECT from_type, to_type, n_trans,
                CAST(n_trans AS DOUBLE) /
                  CAST(sum(n_trans) OVER (PARTITION BY from_type) AS DOUBLE)
                  AS prob
              FROM c ORDER BY from_type, to_type""")),

    Op("stream_route_rendezvous",
      // rendezvous (highest-random-weight) routing — HOW a broadcast
      // platform assigns keys to consumers (Thaler & Ravishankar
      // 1996, the algorithm behind most cache/shard routers):
      // consumer(key) = argmax over consumers of hash(key ∥
      // consumer). The property that matters operationally — and the
      // reason over naive hash-mod — is MINIMAL DISRUPTION: removing
      // a consumer reassigns ONLY that consumer's keys (every other
      // key's argmax is untouched by deleting a non-maximal
      // candidate), where hash-mod reshuffles ~(n−1)/n of ALL keys.
      // One codegen projection per key (argmax over a literal
      // consumer list — the struct max tie-breaks identically
      // everywhere), then a map-combined count per consumer: the
      // routing TABLE a fan-out sink consults is a pure function, no
      // state, no shuffle beyond the tiny balance aggregate. Not
      // oracleable (xxhash64 is Spark's hash family); OperatorSpec
      // pins the rendezvous property exactly (drop one consumer →
      // only its keys move) plus balance within ±20% of uniform.
      (s, d) => {
        val consumers = Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
        val pick = array_max(array(consumers.map(c =>
          struct(xxhash64(col("user_id"), lit(c)).as("h"),
            lit(c).as("c"))): _*)).getField("c")
        Tables.events(s, d)
          .select(col("user_id")).distinct()
          .withColumn("consumer", pick)
          .groupBy("consumer")
          .agg(count(lit(1)).as("n_keys"))
          .orderBy("consumer")
      },
      None),

    Op("stream_route_rendezvous_md5",
      // the hash-gated twin of stream_route_rendezvous (r19, the
      // abc_approx lesson applied to a routing op): the no-oracle
      // label above is a property of Spark's xxhash64, NOT of
      // rendezvous routing — argmax-over-candidate-hashes is
      // portable arithmetic given a portable hash. This sibling
      // routes by the first 8 hex digits of md5(key ∥ '|' ∥
      // consumer) (the table_checksum fingerprint idiom; the '|'
      // separator keeps (key=1, c="0") and (key=10, c="") from
      // colliding), argmax with ties broken toward the larger
      // consumer id via the same struct-max both engines evaluate
      // as (hash, consumer) lexicographic order — so the full
      // routing TABLE hash-matches DuckDB, proving the assignment
      // logic (not just its balance) cross-engine. Same shape as
      // the production op: one per-key projection, map-combined
      // per-consumer count; md5 costs more per key than xxhash64,
      // which is exactly why the registered production op keeps the
      // codegen hash and THIS op carries the gate.
      (s, d) => {
        val consumers = Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
        val pick = array_max(array(consumers.map(c =>
          struct(
            conv(substring(md5(concat_ws("|",
              col("user_id"), lit(c))), 1, 8), 16, 10).cast("long").as("h"),
            lit(c).as("c"))): _*)).getField("c")
        Tables.events(s, d)
          .select(col("user_id")).distinct()
          .withColumn("consumer", pick)
          .groupBy("consumer")
          .agg(count(lit(1)).as("n_keys"))
          .orderBy("consumer")
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
              cand AS (
                SELECT u.user_id, c.c,
                  md5(concat_ws('|', u.user_id, c.c)) AS h
                FROM u CROSS JOIN (
                  SELECT unnest(['c0','c1','c2','c3','c4','c5','c6','c7'])
                    AS c) c),
              v AS (
                SELECT user_id, c,
                  (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
                + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
                + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
                + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
                + (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
                + (instr('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
                + (instr('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
                + (instr('0123456789abcdef', substr(h, 8, 1)) - 1) AS hv
                FROM cand),
              pick AS (
                SELECT user_id, c AS consumer,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY hv DESC, c DESC) AS rn
                FROM v)
              SELECT consumer, count(*) AS n_keys
              FROM pick WHERE rn = 1
              GROUP BY consumer ORDER BY consumer""")),

    Op("stream_debounce",
      // min-gap filter (debounce/throttle): drop events that arrive
      // within 60 s of the SAME user's previous raw event — the
      // duplicate-burst suppressor a broadcast pipeline puts in front
      // of expensive sinks. Gap is computed against the previous raw
      // event (window-expressible, one pass); the reset-on-keep
      // variant needs a running state machine — that form lives in
      // the streaming layer (transformWithState), this is its batch
      // audit twin. Gaps are exact integer µs — no float anywhere.
      // 100 TB: one shuffle on user_id, bounded per-user window state.
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("gap_us",
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
          .filter(col("gap_us").isNull || col("gap_us") > lit(60000000L))
          .select("event_id", "user_id", "event_type", "gap_us")
          .orderBy("event_id")
      },
      Some("""WITH g AS (
                SELECT event_id, user_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) -
                    epoch_us(lag(CAST(ts AS TIMESTAMP), 1)
                      OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC))
                    AS gap_us
                FROM events)
              SELECT event_id, user_id, event_type, gap_us
              FROM g WHERE gap_us IS NULL OR gap_us > 60000000
              ORDER BY event_id""")),

    Op("cdc_liveness",
      // per-source liveness/staleness audit: how far behind the
      // stream head each event_type's latest event sits — the
      // "is this subscription still flowing?" check a meepo-style
      // operator dashboard polls. The global head is a one-row
      // aggregate broadcast against the per-type maxima; staleness is
      // exact integer µs. 100 TB: two map-combined max-aggregates
      // (each collapses the scan before any shuffle) and a broadcast
      // of ONE row — no wide join anywhere.
      (s, d) => {
        val e = Tables.events(s, d)
        val head = e.agg(max(col("ts")).as("head_ts"))
        e.groupBy("event_type")
          .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
          .crossJoin(broadcast(head))
          .select(col("event_type"), col("last_ts"), col("n_events"),
            (unix_micros(col("head_ts")) - unix_micros(col("last_ts")))
              .as("staleness_us"))
          .orderBy("event_type")
      },
      Some("""WITH h AS (
                SELECT max(CAST(ts AS TIMESTAMP)) AS head_ts FROM events)
              SELECT event_type,
                max(CAST(ts AS TIMESTAMP)) AS last_ts,
                count(*) AS n_events,
                epoch_us((SELECT head_ts FROM h)) -
                  epoch_us(max(CAST(ts AS TIMESTAMP))) AS staleness_us
              FROM events GROUP BY event_type ORDER BY event_type""")),

    Op("stream_quota_limit",
      // per-key delivery quota: at most the first 2 events per
      // (user, day) pass downstream — the rate limiter a broadcast
      // layer puts in front of a per-subscriber budget (meepo-style
      // consumer protection). row_number over the (user, day)
      // partition in (ts, event_id) total order; WindowGroupLimit
      // truncates each group to 2 rows MAP-SIDE before the shuffle,
      // so at 100 TB the exchange carries ≤2 rows per (user, day),
      // not the raw stream. Day = exact epoch-day integer.
      (s, d) => {
        val w = Window.partitionBy("user_id", "day_nr")
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("day_nr",
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("event_id"), col("user_id"), col("day_nr"),
            col("rn"), col("event_type"))
          .orderBy("event_id")
      },
      Some("""WITH q AS (
                SELECT event_id, user_id,
                  date_diff('day', DATE '1970-01-01',
                    CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day_nr,
                  event_type,
                  row_number() OVER (
                    PARTITION BY user_id,
                      date_diff('day', DATE '1970-01-01',
                        CAST(CAST(ts AS TIMESTAMP) AS DATE))
                    ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS rn
                FROM events)
              SELECT event_id, user_id, day_nr, CAST(rn AS INTEGER) AS rn,
                event_type
              FROM q WHERE rn <= 2 ORDER BY event_id""")),

    Op("stream_pattern_seq",
      // MATCH_RECOGNIZE-style event-pattern detection (the CEP
      // primitive of the Flink/Esper family, SQL:2016 row-pattern
      // matching): find every STRICTLY ADJACENT view → click →
      // purchase run inside a user's event-time sequence — the
      // micro-conversion pattern, where stream_funnel_conversion
      // matches stages anywhere in the history. Rendered as lead()
      // chains over ONE per-user sequence window (lead(type,1),
      // lead(type,2) — no self-joins, no regex engine): each event
      // sees its two successors, a row IS a match iff the triple
      // lines up. Overlapping matches are reported like
      // MATCH_RECOGNIZE's AFTER MATCH SKIP TO NEXT ROW. Exact
      // integer µs latencies; 100 TB: one user_id shuffle, bounded
      // window state (two leads), map-side everything after.
      (s, d) => {
        val seq = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("t0_us"), col("event_type"),
            lead(col("event_type"), 1).over(seq).as("t1"),
            lead(col("event_type"), 2).over(seq).as("t2"),
            lead(expr("unix_micros(ts)"), 2).over(seq).as("t2_us"),
            lead(col("event_id"), 2).over(seq).as("purchase_id"))
          .filter(col("event_type") === "view" &&
            col("t1") === "click" && col("t2") === "purchase")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("purchase_id"),
            (col("t2_us") - col("t0_us")).as("span_us"))
          .orderBy("view_id")
      },
      Some("""WITH s AS (
                SELECT user_id, event_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS t0_us, event_type,
                  lead(event_type, 1) OVER w AS t1,
                  lead(event_type, 2) OVER w AS t2,
                  lead(epoch_us(CAST(ts AS TIMESTAMP)), 2) OVER w AS t2_us,
                  lead(event_id, 2) OVER w AS purchase_id
                FROM events
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC))
              SELECT user_id, event_id AS view_id, purchase_id,
                t2_us - t0_us AS span_us
              FROM s
              WHERE event_type = 'view' AND t1 = 'click'
                AND t2 = 'purchase'
              ORDER BY view_id""")),

    Op("stream_order_audit",
      // out-of-order delivery audit — the transport-quality metric an
      // ordered-broadcast system (meepo's per-key ordering guarantee)
      // monitors continuously: an INVERSION is an event whose event
      // time precedes the latest event time already delivered for the
      // same key (arrival order = log position = event_id). The
      // running high-water mark is ROWS UNBOUNDED..1 PRECEDING max
      // over the per-key arrival order (single-pass frame), the flag
      // an exact timestamp comparison, and the rollup one map-combined
      // aggregate per event type — plus the max lateness (µs behind
      // the watermark) that sizes the withWatermark delay the
      // streaming ops need: this query IS how that config number is
      // derived from data. One user_id shuffle, |types| output rows.
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("hwm_us", max(unix_micros(col("ts"))).over(w))
          .withColumn("late_us",
            greatest(col("hwm_us") - unix_micros(col("ts")), lit(0L)))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("late_us") > 0, 1L).otherwise(0L))
              .as("n_inversions"),
            round(sum(when(col("late_us") > 0, 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double"), 6)
              .as("inversion_rate"),
            max(col("late_us")).as("max_late_us"))
          .orderBy("event_type")
      },
      Some("""WITH h AS (
                SELECT event_type,
                  greatest(coalesce(
                    max(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                      PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    - epoch_us(CAST(ts AS TIMESTAMP)), 0), 0) AS late_us
                FROM events)
              SELECT event_type,
                count(*) AS n_events,
                CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_inversions,
                round(CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                  AS inversion_rate,
                CAST(max(late_us) AS BIGINT) AS max_late_us
              FROM h GROUP BY 1 ORDER BY event_type""")),

    Op("stream_attribution",
      // last-touch conversion attribution — the revenue-accounting
      // query every event-broadcast consumer ends up running: each
      // purchase is credited to the user's most recent TOUCH (click
      // or view) strictly before it; purchases with no prior touch
      // land in the 'none' bucket (direct traffic), so credit
      // mass is conserved (Σ per-channel conversions = Σ purchases —
      // the invariant a reconciliation job checks). The carry is
      // last(touch, ignoreNulls) over ROWS UNBOUNDED..1 PRECEDING on
      // the total (ts, event_id) per-user order — the win_fill_forward
      // frame shifted one row back so a purchase can never attribute
      // to itself; both engines walk the identical order. Revenue
      // sums ride the DECIMAL discipline (dsum). 100 TB: one user_id
      // shuffle for the window (running frame — single pass), then a
      // map-combined 3-row aggregate; nothing else moves.
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val touch = when(col("event_type").isin("click", "view"),
          col("event_type"))
        Tables.events(s, d)
          .withColumn("attributed",
            last(touch, ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("attributed"), lit("none")).as("channel"))
          .agg(count(lit(1)).as("n_conversions"),
            graft.ops.dsum(col("value")).as("revenue"))
          .orderBy("channel")
      },
      Some("""WITH a AS (
                SELECT event_type, value,
                  last_value(CASE WHEN event_type IN ('click', 'view')
                      THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS attributed
                FROM events)
              SELECT coalesce(attributed, 'none') AS channel,
                count(*) AS n_conversions,
                CAST(round(sum(CAST(value AS DECIMAL(38,10))), 6) AS DOUBLE)
                  AS revenue
              FROM a WHERE event_type = 'purchase'
              GROUP BY 1 ORDER BY channel"""))
  )
}
