package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._

/** Event-table analytics: windows, sessions, as-of and range joins
  * (`Sessionize`, `AsOfJoin`, `RangeJoin`). */
object EventQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q_hourly_events", ((s, d) =>
      t(s, d, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("hour", "event_type")), Sql(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // as-of joins: each purchase stamped with the latest prior (or next
    // following) click of the same user — union + one running window,
    // no range-join explosion; oracles are DuckDB's native ASOF LEFT
    // JOIN with the matching inequality direction
    QuerySpec("q_asof_clicks", ((s, d) => asofClicksQuery(s, d, forward = false)), Sql(
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |     r0 AS (SELECT user_id, ts, value,
        |              row_number() OVER (PARTITION BY user_id, ts
        |                                 ORDER BY value DESC) AS rn
        |            FROM events WHERE event_type = 'click' AND ts IS NOT NULL),
        |     r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1)
        |SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts, l.value,
        |       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       r.value AS click_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin)),

    QuerySpec("q_asof_next", ((s, d) => asofClicksQuery(s, d, forward = true)), Sql(
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |     r0 AS (SELECT user_id, ts, value,
        |              row_number() OVER (PARTITION BY user_id, ts
        |                                 ORDER BY value DESC) AS rn
        |            FROM events WHERE event_type = 'click' AND ts IS NOT NULL),
        |     r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1)
        |SELECT l.event_id, l.user_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts, l.value,
        |       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS next_ts,
        |       r.value AS next_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY event_id""".stripMargin)),

    // point-in-interval range join: per-anchor activity in the two
    // hours after every mod-97 anchor event. Bucketed equi-join (W = 1h
    // → ≤3 buckets/interval) — the direct BETWEEN spelling plans as a
    // BroadcastNestedLoopJoin (PlanSpec pins the difference); DuckDB's
    // IEJoin computes the same theta-join natively as the oracle
    QuerySpec("q_range_join", ((s, d) => {
      val ev = t(s, d, "events")
      val anchors = ev.where(col("event_id") % 97 === 0)
        .select(col("event_id").as("anchor_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
      RangeJoin.pointInInterval(
          ev.select("event_id", "ts", "value"), anchors,
          "ts", "w_start", "w_end", bucketWidth = 3600L * 1000000L)
        .groupBy("anchor_id")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("anchor_id")
    }), Sql(
      """WITH iv AS (SELECT event_id AS anchor_id, ts AS w_start,
        |                   ts + INTERVAL 2 HOUR AS w_end
        |            FROM events WHERE event_id % 97 = 0)
        |SELECT iv.anchor_id, count(*) AS n, round(sum(p.value), 4) AS sum_value
        |FROM events p JOIN iv
        |  ON p.ts >= iv.w_start AND p.ts <= iv.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // interval-OVERLAP join (interval×interval sibling of the range
    // join): every 2h mod-97 anchor window paired with every 90min
    // mod-89 window it shares an instant with. Both sides fan out to
    // hour buckets; a pair is kept exactly once — in the bucket holding
    // max(starts) — by predicate, never a distinct() of the joined
    // payload. DuckDB's IEJoin computes the theta-join as the oracle.
    QuerySpec("q_interval_overlap", ((s, d) => {
      val ev = t(s, d, "events")
      val a = ev.where(col("event_id") % 97 === 0)
        .select(col("event_id").as("a_id"), col("ts").as("a_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("a_end"))
      val b = ev.where(col("event_id") % 89 === 0)
        .select(col("event_id").as("b_id"), col("ts").as("b_start"),
          (col("ts") + expr("INTERVAL 90 MINUTES")).as("b_end"))
      RangeJoin.intervalOverlap(a, b, "a_start", "a_end",
          "b_start", "b_end", bucketWidth = 3600L * 1000000L)
        .groupBy("a_id")
        .agg(count(lit(1)).as("n_overlaps"), sum(col("b_id")).as("sum_b"))
        .orderBy("a_id")
    }), Sql(
      """WITH a AS (SELECT event_id AS a_id, ts AS a_start,
        |                  ts + INTERVAL 2 HOUR AS a_end
        |           FROM events WHERE event_id % 97 = 0),
        |     b AS (SELECT event_id AS b_id, ts AS b_start,
        |                  ts + INTERVAL 90 MINUTE AS b_end
        |           FROM events WHERE event_id % 89 = 0)
        |SELECT a.a_id, count(*) AS n_overlaps,
        |       CAST(sum(b.b_id) AS BIGINT) AS sum_b
        |FROM a JOIN b ON a.a_start <= b.b_end AND b.b_start <= a.a_end
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // gap-based sessionization: per-user activity sessions with a
    // 30-minute inactivity close, via Spark's native session_window
    // aggregate; the oracle reconstructs the identical sessions with
    // lag + cumulative break counting (new session iff gap STRICTLY
    // exceeds 30 min — session_window merges at exactly prev+gap,
    // SessionizeSpec pins the boundary)
    QuerySpec("q_sessions", ((s, d) =>
      Sessionize.sessionize(t(s, d, "events"), Seq("user_id"), "ts",
          "30 minutes",
          Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_last"), "yyyy-MM-dd HH:mm:ss").as("session_last"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "session_start")), Sql(
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_last,
        |       count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // SCD2 value-run compaction: each user's event stream compressed
    // into constant-event_type intervals (valid_from / half-open
    // valid_to, NULL = current) — the change-log → bitemporal-lookup
    // build; runs split on null-safe value change, (ts, event_id)
    // ordered so ties compact deterministically
    QuerySpec("q_scd2", ((s, d) =>
      Sessionize.scd2Compact(t(s, d, "events"), "user_id", "event_type",
          "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_to"),
          col("n_events"))
        .orderBy("user_id", "valid_from")), Sql(
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN event_type IS NOT DISTINCT FROM
        |              lag(event_type) OVER w
        |         THEN 0 ELSE 1 END AS chg
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT user_id, event_type, ts,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS run
        |  FROM o),
        |g AS (
        |  SELECT user_id, event_type, min(ts) AS vf, count(*) AS n_events
        |  FROM r GROUP BY user_id, run, event_type)
        |SELECT user_id, event_type,
        |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY vf),
        |           '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  n_events
        |FROM g ORDER BY user_id, valid_from""".stripMargin)),

    // day-grain retention cohorts over the event stream: users bucketed
    // by first-seen day, counted at each day offset they return
    // retention cohorts: distinct (user, day) activity, min-day cohort,
    // integer day offsets — exact on both sides
    QuerySpec("q_retention", ((s, d) =>
      Sessionize.retentionCohorts(t(s, d, "events"), "user_id", "ts")
        // ISO string day: a raw DATE column round-trips as python date
        // objects on the Spark side but datetime64 from DuckDB — the
        // compare sees different value types; strings are unambiguous
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")), Sql(
      """WITH act AS (
        |  SELECT DISTINCT user_id AS u,
        |         CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |coh AS (SELECT u, min(day) AS cohort_day FROM act GROUP BY 1)
        |SELECT strftime(coh.cohort_day, '%Y-%m-%d') AS cohort_day,
        |       CAST(date_diff('day', coh.cohort_day, act.day) AS BIGINT)
        |         AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM act JOIN coh ON act.u = coh.u
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ordered conversion funnel view→click→purchase: stage k counts
    // only events strictly after the user's first stage-(k-1) hit
    // conversion funnel: chained min-after-previous-stage CTEs; a
    // zero-user stage still reports its row
    QuerySpec("q_conversion", ((s, d) =>
      Sessionize.conversionFunnel(t(s, d, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))), Sql(
      """WITH e AS (SELECT user_id AS u, ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT u, min(ts) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.u, min(e.ts) AS t FROM e
        |       JOIN s1 ON e.u = s1.u AND e.ts > s1.t
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.u, min(e.ts) AS t FROM e
        |       JOIN s2 ON e.u = s2.u AND e.ts > s2.t
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
        |         CAST(count(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
        |ORDER BY stage_idx""".stripMargin)),

    // growth accounting: DAU decomposed into new / retained /
    // resurrected (+ churned = yesterday's actives minus retained) —
    // the feed-health diagnosis behind a flat daily-active line
    QuerySpec("q_growth_accounting", ((s, d) =>
      Sessionize.growthAccounting(t(s, d, "events"), "user_id", "ts")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day")), Sql(
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS u,
        |         CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |cl AS (SELECT u, d, lag(d) OVER (PARTITION BY u ORDER BY d)
        |         AS prev FROM ud),
        |c2 AS (SELECT d, CASE WHEN prev IS NULL THEN 'new'
        |                      WHEN d - prev = 1 THEN 'retained'
        |                      ELSE 'resurrected' END AS cls FROM cl),
        |daily AS (SELECT d AS day, count(*) AS n_active,
        |  sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS n_new,
        |  sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS n_retained,
        |  sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
        |    AS n_resurrected
        |  FROM c2 GROUP BY 1),
        |w AS (SELECT *, lag(n_active) OVER (ORDER BY day) AS pa,
        |        lag(day) OVER (ORDER BY day) AS pd FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_active, n_new,
        |  n_retained, n_resurrected,
        |  CASE WHEN pd IS NULL THEN NULL
        |       WHEN day - pd = 1 THEN pa - n_retained
        |       ELSE pa END AS n_churned
        |FROM w ORDER BY day""".stripMargin)),

    // sequence predictability: order-1 transition entropy of per-user
    // event streams vs the marginal — the scripted-traffic detector
    // (a bot's state machine has near-1 predictability at any volume)
    QuerySpec("q_transition_entropy", ((s, d) =>
      Sessionize.transitionEntropy(t(s, d, "events"), "user_id", "ts",
        "event_type", "event_id")), Sql(
      """WITH p AS (
        |  SELECT event_type AS y,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS x
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |j AS (SELECT x, y, count(*) AS c FROM p WHERE x IS NOT NULL
        |      GROUP BY 1, 2),
        |n AS (SELECT sum(c)::DOUBLE AS n FROM j),
        |cx AS (SELECT x, sum(c) AS cx FROM j GROUP BY 1),
        |cy AS (SELECT y, sum(c) AS cy FROM j GROUP BY 1),
        |hc AS (SELECT sum(-(j.c / n.n) * ln(j.c::DOUBLE / cx.cx)) AS h
        |       FROM j JOIN cx USING (x), n),
        |hm AS (SELECT sum(-(cy.cy / n.n) * ln(cy.cy / n.n)) AS h
        |       FROM cy, n)
        |SELECT CAST((SELECT sum(c) FROM j) AS BIGINT) AS n_transitions,
        |  round(hc.h, 6) AS h_conditional, round(hm.h, 6) AS h_marginal,
        |  CASE WHEN hm.h > 0 THEN round(1.0::DOUBLE - hc.h / hm.h, 6) END
        |    AS predictability
        |FROM hc, hm""".stripMargin)),

    // within-session market baskets: which event types happen in the
    // SAME VISIT (30-min gap sessions), lift over session baskets —
    // associationRules smears a month into one basket; this doesn't
    QuerySpec("q_session_baskets", ((s, d) =>
      Sessionize.sessionBaskets(t(s, d, "events"), "user_id", "ts",
        "event_type", gapMinutes = 30)), Sql(
      """WITH o AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, event_type,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o),
        |b AS (SELECT DISTINCT user_id, sid, event_type FROM s),
        |ns AS (SELECT count(*) AS s FROM
        |        (SELECT DISTINCT user_id, sid FROM b)),
        |tc AS (SELECT event_type, count(*) AS c FROM b GROUP BY 1),
        |p AS (SELECT a.event_type AS ta, bb.event_type AS tb,
        |        count(*) AS n
        |      FROM b a JOIN b bb ON a.user_id = bb.user_id
        |        AND a.sid = bb.sid AND a.event_type < bb.event_type
        |      GROUP BY 1, 2)
        |SELECT p.ta AS type_a, p.tb AS type_b, p.n AS n_together,
        |  round(ns.s::DOUBLE * p.n / (ca.c * cb.c), 6) AS lift
        |FROM p JOIN tc ca ON ca.event_type = p.ta
        |       JOIN tc cb ON cb.event_type = p.tb, ns
        |ORDER BY type_a, type_b""".stripMargin)),

    // Markov stationarity: the long-run mix implied by the observed
    // transition matrix (3 power steps from uniform) vs the observed
    // mix — a gap means the stream is still drifting toward a
    // different regime, which no frequency snapshot can see
    QuerySpec("q_stationary_mix", ((s, d) =>
      Sessionize.stationaryMix(t(s, d, "events"), "user_id", "ts",
        "event_type", "event_id", iters = 3)), Sql(
      """WITH p AS (
        |  SELECT event_type AS y,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS x
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |obs AS (SELECT y, count(*) AS n FROM p GROUP BY 1),
        |tr AS (SELECT x, y, count(*) AS c FROM p WHERE x IS NOT NULL
        |       GROUP BY 1, 2),
        |ct AS (SELECT x, sum(c) AS ct FROM tr GROUP BY 1),
        |ty AS (SELECT y AS t FROM obs),
        |tcount AS (SELECT count(*)::DOUBLE AS tn FROM ty),
        |pm AS (
        |  SELECT s.t AS s, y.t AS yy,
        |    CASE WHEN ct.ct IS NULL OR ct.ct = 0
        |         THEN CASE WHEN s.t = y.t THEN 1.0::DOUBLE
        |                   ELSE 0.0::DOUBLE END
        |         ELSE coalesce(tr.c, 0)::DOUBLE / ct.ct END AS p
        |  FROM ty s CROSS JOIN ty y
        |  LEFT JOIN ct ON ct.x = s.t
        |  LEFT JOIN tr ON tr.x = s.t AND tr.y = y.t),
        |x0 AS (SELECT t, 1.0::DOUBLE / tcount.tn AS v FROM ty, tcount),
        |x1 AS (SELECT pm.yy AS t, sum(x0.v * pm.p) AS v FROM pm
        |       JOIN x0 ON x0.t = pm.s GROUP BY 1),
        |x2 AS (SELECT pm.yy AS t, sum(x1.v * pm.p) AS v FROM pm
        |       JOIN x1 ON x1.t = pm.s GROUP BY 1),
        |x3 AS (SELECT pm.yy AS t, sum(x2.v * pm.p) AS v FROM pm
        |       JOIN x2 ON x2.t = pm.s GROUP BY 1),
        |tot AS (SELECT sum(n)::DOUBLE AS n FROM obs)
        |SELECT obs.y AS event_type,
        |  round(obs.n / tot.n, 6) AS observed_share,
        |  round(x3.v, 6) AS stationary_share,
        |  round(abs(obs.n / tot.n - x3.v), 6) AS delta
        |FROM obs JOIN x3 ON x3.t = obs.y, tot
        |ORDER BY event_type""".stripMargin)),

    // lead-lag discovery: corr(clicks(t), purchases(t+lag)) for lag
    // -3..3 over zero-filled aligned days — which series leads and by
    // how much; exact integer sums, driver arithmetic over O(days)
    QuerySpec("q_lead_lag", ((s, d) =>
      Sessionize.leadLagCorr(t(s, d, "events"), "ts", "event_type",
        "click", "purchase", maxLag = 3)), Sql(
      """WITH e AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |         event_type AS t
        |  FROM events WHERE ts IS NOT NULL
        |    AND event_type IN ('click', 'purchase')),
        |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |days AS (SELECT unnest(generate_series(d0, d1,
        |           INTERVAL 1 DAY))::DATE AS d FROM bounds),
        |a AS (SELECT days.d, coalesce(c.n, 0) AS v FROM days LEFT JOIN
        |      (SELECT d, count(*) AS n FROM e WHERE t = 'click'
        |       GROUP BY 1) c USING (d)),
        |b AS (SELECT days.d, coalesce(c.n, 0) AS v FROM days LEFT JOIN
        |      (SELECT d, count(*) AS n FROM e WHERE t = 'purchase'
        |       GROUP BY 1) c USING (d)),
        |lags AS (SELECT unnest(range(-3, 4)) AS lag),
        |pairs AS (SELECT lags.lag, a.v AS x, b.v AS y
        |          FROM lags JOIN a ON true
        |          JOIN b ON b.d = a.d + lags.lag::INT),
        |st AS (SELECT lag, count(*) AS n, sum(x * 1.0) AS sx,
        |         sum(y * 1.0) AS sy, sum(x * 1.0 * y) AS sxy,
        |         sum(x * 1.0 * x) AS sxx, sum(y * 1.0 * y) AS syy
        |       FROM pairs GROUP BY 1)
        |SELECT CAST(lag AS INT) AS lag, n AS n_days,
        |  CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
        |       THEN NULL
        |       ELSE round((n * sxy - sx * sy)
        |            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |  END AS corr
        |FROM st ORDER BY lag""".stripMargin)),

    // weekday-seasonality strength: eta-squared of day-of-week over the
    // zero-filled daily series + peak/trough ISO weekday — how much of
    // the stream is just a weekly rhythm
    QuerySpec("q_weekday_effect", ((s, d) =>
      Sessionize.weekdayEffect(t(s, d, "events"), "ts")), Sql(
      """WITH e AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |days AS (SELECT unnest(generate_series(d0, d1,
        |           INTERVAL 1 DAY))::DATE AS d FROM bounds),
        |f AS (SELECT days.d, isodow(days.d) AS dow,
        |        coalesce(e.n, 0) * 1.0 AS v
        |      FROM days LEFT JOIN e USING (d)),
        |t AS (SELECT count(*) AS n, sum(v) AS s, sum(v * v) AS ss FROM f),
        |g AS (SELECT dow, count(*) * 1.0 AS gn, sum(v) AS gs
        |      FROM f GROUP BY 1),
        |bt AS (SELECT sum(gs * gs / gn) AS sb FROM g),
        |pk AS (SELECT dow FROM g ORDER BY gs / gn DESC, dow LIMIT 1),
        |tr AS (SELECT dow FROM g ORDER BY gs / gn ASC, dow LIMIT 1)
        |SELECT t.n AS n_days,
        |  CASE WHEN t.ss - t.s * t.s / t.n <= 0 THEN NULL
        |       ELSE round((bt.sb - t.s * t.s / t.n)
        |                  / (t.ss - t.s * t.s / t.n), 6) END
        |    AS eta_squared,
        |  CAST(pk.dow AS INT) AS peak_dow, CAST(tr.dow AS INT) AS trough_dow
        |FROM t, bt, pk, tr""".stripMargin)),

    // Kaplan-Meier user-lifetime survival: product-limit estimator
    // with final-day actives right-censored (the distinction naive
    // average-lifetime tables get wrong); ordered running product via
    // exp-sum-ln — left-to-right in both engines
    QuerySpec("q_survival", ((s, d) =>
      Sessionize.survivalCurve(t(s, d, "events"), "user_id", "ts")), Sql(
      """WITH pu AS (
        |  SELECT user_id,
        |    min(CAST(date_trunc('day', ts) AS DATE)) AS f,
        |    max(CAST(date_trunc('day', ts) AS DATE)) AS l
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |mx AS (SELECT max(l) AS ref FROM pu),
        |lv AS (SELECT (l - f) AS t, (l = mx.ref) AS cen FROM pu, mx),
        |bt AS (SELECT t,
        |         sum(CASE WHEN NOT cen THEN 1 ELSE 0 END) AS n_churned,
        |         sum(CASE WHEN cen THEN 1 ELSE 0 END) AS n_censored
        |       FROM lv GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM lv),
        |r AS (SELECT t, n_churned, n_censored,
        |        tot.n - coalesce(sum(n_churned + n_censored) OVER
        |          (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND 1 PRECEDING), 0) AS n_at_risk
        |      FROM bt, tot)
        |SELECT CAST(t AS BIGINT) AS lifetime_days,
        |  CAST(n_at_risk AS BIGINT) AS n_at_risk,
        |  CAST(n_churned AS BIGINT) AS n_churned,
        |  CAST(n_censored AS BIGINT) AS n_censored,
        |  round(exp(sum(ln(1.0::DOUBLE - n_churned::DOUBLE / n_at_risk))
        |    OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) AS survival
        |FROM r ORDER BY lifetime_days""".stripMargin)),

    // robust per-type volume trend: Theil-Sen slope over the
    // zero-filled daily series — the decline signal one outage day
    // cannot drag (OLS flips sign; the pairwise median shrugs)
    QuerySpec("q_trend_by_type", ((s, d) =>
      Sessionize.trendByGroup(t(s, d, "events"), "ts", "event_type")), Sql(
      """WITH e AS (
        |  SELECT coalesce(event_type, '<null>') AS g,
        |         CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events WHERE ts IS NOT NULL),
        |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |days AS (SELECT unnest(generate_series(d0, d1,
        |           INTERVAL 1 DAY))::DATE AS d FROM bounds),
        |grps AS (SELECT DISTINCT g FROM e),
        |cnt AS (SELECT g, d, count(*) AS n FROM e GROUP BY 1, 2),
        |f AS (SELECT grps.g, days.d, coalesce(cnt.n, 0) AS n,
        |        row_number() OVER (PARTITION BY grps.g
        |                           ORDER BY days.d) - 1 AS i
        |      FROM grps CROSS JOIN days
        |      LEFT JOIN cnt ON cnt.g = grps.g AND cnt.d = days.d),
        |p AS (SELECT a.g, (b.n - a.n)::DOUBLE / (b.i - a.i) AS s
        |      FROM f a JOIN f b ON a.g = b.g AND b.i > a.i),
        |m AS (SELECT g, count(*) AS nd FROM f GROUP BY 1)
        |SELECT p.g AS event_type, m.nd AS n_days,
        |  round(median(p.s), 6) AS sen_slope
        |FROM p JOIN m USING (g) GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // day-grain burstiness: variance-to-mean of daily volume per type
    // over zero-filled days (Poisson = 1; >> 1 batch uploads, << 1 a
    // scheduler) — clumping second-grain burstiness can't see
    QuerySpec("q_overdispersion", ((s, d) =>
      Sessionize.dispersionIndex(t(s, d, "events"), "ts", "event_type",
        threshold = 1.5)), Sql(
      """WITH e AS (
        |  SELECT coalesce(event_type, '<null>') AS g,
        |         CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events WHERE ts IS NOT NULL),
        |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |days AS (SELECT unnest(generate_series(d0, d1,
        |           INTERVAL 1 DAY))::DATE AS d FROM bounds),
        |grps AS (SELECT DISTINCT g FROM e),
        |cnt AS (SELECT g, d, count(*) AS n FROM e GROUP BY 1, 2),
        |f AS (SELECT grps.g, days.d, coalesce(cnt.n, 0) AS n1
        |      FROM grps CROSS JOIN days
        |      LEFT JOIN cnt ON cnt.g = grps.g AND cnt.d = days.d),
        |st AS (SELECT g, count(*) AS n, sum(n1 * 1.0::DOUBLE) AS s,
        |         sum(n1 * 1.0::DOUBLE * n1) AS ss FROM f GROUP BY 1)
        |SELECT g AS event_type, n AS n_days, round(s / n, 6) AS mean_daily,
        |  CASE WHEN n < 2 OR s / n <= 0 THEN NULL
        |       ELSE round(((ss - s * s / n) / (n - 1)) / (s / n), 6)
        |  END AS dispersion,
        |  coalesce(CASE WHEN n < 2 OR s / n <= 0 THEN false
        |       ELSE round(((ss - s * s / n) / (n - 1)) / (s / n), 6)
        |            > 1.5 END, false) AS flag
        |FROM st ORDER BY event_type""".stripMargin)),

    // event-time disorder profile (watermark sizing): arrival
    // order = event_id; event time jittered back 0..7199 s by a
    // deterministic multiplicative hash so a late tail exists to
    // measure; dyadic exact percentiles = candidate watermark delays
    QuerySpec("q_out_of_order", ((s, d) => {
      val ev = t(s, d, "events").withColumn("et", expr(
        "timestampadd(SECOND, " +
        "-CAST((event_id * 2654435761) % 7200 AS INT), ts)"))
      Sessionize.disorderProfile(ev, "user_id", "event_id", "et")
    }), Sql(
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         ts - to_microseconds(((event_id * 2654435761) % 7200)
        |                              * 1000000) AS et
        |  FROM events WHERE user_id IS NOT NULL),
        |o AS (
        |  SELECT user_id, event_id, et,
        |         max(et) OVER (PARTITION BY user_id ORDER BY event_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING
        |                       AND 1 PRECEDING) AS prev_max
        |  FROM e),
        |l AS (
        |  SELECT CASE WHEN prev_max IS NOT NULL AND et < prev_max
        |              THEN (epoch_us(prev_max) - epoch_us(et)) // 1000000
        |              ELSE 0 END AS late_s
        |  FROM o)
        |SELECT count(*) AS n_events,
        |       CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_late,
        |       round(avg(CASE WHEN late_s > 0 THEN 1.0 ELSE 0.0 END), 6)
        |         AS frac_late,
        |       max(late_s) AS max_late_s,
        |       quantile_cont(CASE WHEN late_s > 0
        |                          THEN CAST(late_s AS DOUBLE) END, 0.5)
        |         AS p50_late_s,
        |       quantile_cont(CASE WHEN late_s > 0
        |                          THEN CAST(late_s AS DOUBLE) END, 0.9375)
        |         AS p94_late_s
        |FROM l""".stripMargin)),

    // per-user burstiness: integer-second gaps keep Σ and Σ² exact
    // in both engines; the float stats derive through one fixed
    // expression order, so the replica is bit-exact
    QuerySpec("q_burstiness", ((s, d) =>
      Sessionize.interArrivalStats(
        t(s, d, "events").where(col("user_id") % 10 === 3),
        "user_id", "ts")), Sql(
      """WITH e AS (
        |  SELECT user_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND user_id % 10 = 3),
        |g AS (
        |  SELECT user_id,
        |         (epoch_us(ts) - epoch_us(lag(ts) OVER
        |            (PARTITION BY user_id ORDER BY ts))) // 1000000 AS gap
        |  FROM e),
        |a AS (
        |  SELECT user_id, count(*) AS n_gaps,
        |         CAST(sum(gap) AS BIGINT) AS s,
        |         CAST(sum(gap * gap) AS BIGINT) AS ss
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |d AS (
        |  SELECT user_id, n_gaps,
        |         CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
        |         sqrt(greatest(
        |           (CAST(ss AS DOUBLE)
        |              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |                / CAST(n_gaps AS DOUBLE))
        |             / CAST(n_gaps AS DOUBLE), 0.0)) AS std
        |  FROM a)
        |SELECT user_id, n_gaps, round(mean, 6) AS mean_gap_s,
        |       CASE WHEN mean > 0 THEN round(std / mean, 6) END AS cv,
        |       CASE WHEN std + mean > 0
        |            THEN round((std - mean) / (std + mean), 6)
        |       END AS burstiness
        |FROM d ORDER BY user_id""".stripMargin)),

    // near-time duplicate events: planted +3 s replays of every
    // %50 event; time-banded candidates (exactly-once pairing), a hot
    // key never goes quadratic
    // event dups: identical planted replays; the oracle is the PLAIN
    // quadratic self-join — banded candidates proven result-identical
    QuerySpec("q_event_dups", ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
      val planted = ev.where(col("event_id") % 50 === 0)
        .select((col("event_id") + 1000000).as("event_id"),
          col("user_id"), col("event_type"),
          (col("ts") + expr("INTERVAL 3 SECONDS")).as("ts"))
      Sessionize.eventDuplicates(ev.unionByName(planted),
          Seq("user_id", "event_type"), "ts", "event_id",
          windowSec = 10L)
        .orderBy("id_a", "id_b")
    }), Sql(
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, ts FROM events),
        |pl AS (
        |  SELECT event_id + 1000000 AS event_id, user_id, event_type,
        |         ts + INTERVAL 3 SECOND AS ts
        |  FROM base WHERE event_id % 50 = 0),
        |e AS (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS s
        |      FROM (SELECT * FROM base UNION ALL SELECT * FROM pl))
        |SELECT a.user_id, a.event_type,
        |       a.event_id AS id_a, b.event_id AS id_b,
        |       abs(a.s - b.s) AS gap_s
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_type = b.event_type
        | AND a.event_id < b.event_id AND abs(a.s - b.s) <= 10
        |ORDER BY id_a, id_b""".stripMargin)),
  )
}
