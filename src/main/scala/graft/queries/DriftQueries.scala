package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._

/** Distribution drift, two-sample tests, agreement and sequential
  * gates (`Drift`). */
object DriftQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q_quantiles_quantity", ((s, d) =>
      t(s, d, "lineitem").agg(
        percentile(col("l_quantity"), array(lit(0.25), lit(0.5), lit(0.75)))
          .as("qs"))
        .select(
          element_at(col("qs"), 1).as("p25"),
          element_at(col("qs"), 2).as("p50"),
          element_at(col("qs"), 3).as("p75"))), Sql(
      """SELECT quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.5)  AS p50,
        |       quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem""".stripMargin)),

    QuerySpec("q_source_freq", ((s, d) =>
      t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("n")).orderBy("source")), Sql(
      "SELECT source, count(*) AS n FROM documents GROUP BY 1 ORDER BY 1")),

    QuerySpec("q_chi_uniform", ((s, d) => {
      // Pearson chi-square of documents.source vs uniform expectation —
      // fully inside Catalyst: the total row count is a cross-joined
      // single-row aggregate over the (tiny) grouped frame, not a
      // separate driver-side count() pass over the corpus
      val grouped = t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("obs"))
      val total = grouped.agg(sum(col("obs")).cast("double").as("n"))
      grouped.crossJoin(total)
        .select((col("n") / 20.0).as("exp"), col("obs"))
        .agg(round(sum((col("obs") - col("exp")) * (col("obs") - col("exp"))
          / col("exp")), 6).as("chi_square"))
    }), Sql(
      """SELECT round(sum((obs - exp) * (obs - exp) / exp), 6) AS chi_square
        |FROM (
        |  SELECT count(*)::DOUBLE AS obs,
        |         (SELECT count(*) FROM documents) / 20.0 AS exp
        |  FROM documents GROUP BY source)""".stripMargin)),

    // per-group drift verdicts from ONE grouped sketch aggregation:
    // each l_returnflag's l_quantity distribution KS-tested against the
    // global baseline (the per-partition pass/fail pattern at sketch
    // cost); the oracle rebuilds every per-group ECDF exactly
    QuerySpec("q_ks_by_flag", ((s, d) => {
      val li = t(s, d, "lineitem")
      val base = Drift.numericHistogram(li, "l_quantity", 0.0, 55.0, 64)
      Drift.ksByGroup(li, "l_returnflag", "l_quantity", base)
        .orderBy("l_returnflag")
    }), Sql(
      """WITH binned AS (
        |  SELECT l_returnflag AS g,
        |         CASE WHEN l_quantity < 0 THEN 0
        |              WHEN l_quantity >= 55.0 THEN 65
        |              ELSE 1 + least(63, CAST(floor((l_quantity / 55.0) * 64)
        |                                      AS INT)) END AS b
        |  FROM lineitem),
        |bins AS (SELECT unnest(range(0, 66)) AS b),
        |grps AS (SELECT DISTINCT g FROM binned),
        |cnt AS (SELECT g, b, count(*) AS n FROM binned GROUP BY 1, 2),
        |filled AS (
        |  SELECT grps.g, bins.b, coalesce(cnt.n, 0) AS n
        |  FROM grps CROSS JOIN bins
        |  LEFT JOIN cnt ON cnt.g = grps.g AND cnt.b = bins.b),
        |base AS (SELECT bins.b, coalesce(t.n, 0) AS n FROM bins
        |         LEFT JOIN (SELECT b, count(*) AS n FROM binned GROUP BY 1) t
        |           ON bins.b = t.b),
        |ec AS (
        |  SELECT f.g, f.b,
        |    sum(f.n) OVER (PARTITION BY f.g ORDER BY f.b)
        |      / (sum(f.n) OVER (PARTITION BY f.g))::DOUBLE AS fg,
        |    sum(bf.n) OVER (PARTITION BY f.g ORDER BY f.b)
        |      / (SELECT sum(n) FROM base)::DOUBLE AS fb
        |  FROM filled f JOIN base bf USING (b)),
        |stats AS (SELECT g, max(abs(fg - fb)) AS stat FROM ec GROUP BY g),
        |ns AS (SELECT g, count(*)::DOUBLE AS n FROM binned GROUP BY 1),
        |tot AS (SELECT count(*)::DOUBLE AS n FROM binned)
        |SELECT s.g AS l_returnflag, CAST(ns.n AS BIGINT) AS n,
        |       round(s.stat, 6) AS ks_stat,
        |       round(sqrt(-0.5 * ln(0.005))
        |             * sqrt((ns.n + tot.n) / (ns.n * tot.n)), 6) AS ks_critical,
        |       s.stat > sqrt(-0.5 * ln(0.005))
        |                * sqrt((ns.n + tot.n) / (ns.n * tot.n)) AS ks_drifted
        |FROM stats s JOIN ns USING (g), tot
        |ORDER BY l_returnflag""".stripMargin)),

    // value-unit drift: Wasserstein-1 (earth mover) of each return
    // flag's quantity distribution vs the whole-corpus baseline — KS's
    // integral companion on the SAME aligned histogram sketches (KS
    // reads the worst CDF gap, W1 the area between the CDFs, i.e. how
    // far mass actually moved in value units)
    QuerySpec("q_wasserstein", ((s, d) => {
      val li = t(s, d, "lineitem")
      val base = Drift.numericHistogram(li, "l_quantity", 0.0, 55.0, 64)
      Drift.wasserstein1ByGroup(li, "l_returnflag", "l_quantity", base)
        .orderBy("l_returnflag")
    }), Sql(
      """WITH binned AS (
        |  SELECT l_returnflag AS g,
        |         CASE WHEN l_quantity < 0 THEN 0
        |              WHEN l_quantity >= 55.0 THEN 63
        |              ELSE least(63, CAST(floor((l_quantity / 55.0) * 64)
        |                                  AS INT)) END AS b
        |  FROM lineitem),
        |bins AS (SELECT unnest(range(0, 64)) AS b),
        |grps AS (SELECT DISTINCT g FROM binned),
        |cnt AS (SELECT g, b, count(*) AS n FROM binned GROUP BY 1, 2),
        |filled AS (
        |  SELECT grps.g, bins.b, coalesce(cnt.n, 0) AS n
        |  FROM grps CROSS JOIN bins
        |  LEFT JOIN cnt ON cnt.g = grps.g AND cnt.b = bins.b),
        |base AS (SELECT bins.b, coalesce(t.n, 0) AS n FROM bins
        |         LEFT JOIN (SELECT b, count(*) AS n FROM binned GROUP BY 1) t
        |           ON bins.b = t.b),
        |ec AS (
        |  SELECT f.g, f.b,
        |    sum(f.n) OVER (PARTITION BY f.g ORDER BY f.b)
        |      / (sum(f.n) OVER (PARTITION BY f.g))::DOUBLE AS cg,
        |    sum(bf.n) OVER (PARTITION BY f.g ORDER BY f.b)
        |      / (SELECT sum(n) FROM base)::DOUBLE AS cb
        |  FROM filled f JOIN base bf USING (b)),
        |stats AS (SELECT g, sum(abs(cg - cb)) AS s FROM ec
        |          WHERE b < 63 GROUP BY g),
        |ns AS (SELECT g, count(*) AS n FROM binned GROUP BY 1)
        |SELECT s.g AS l_returnflag, CAST(ns.n AS BIGINT) AS n,
        |       round(s.s * (55.0 / 64), 6) AS w1
        |FROM stats s JOIN ns USING (g)
        |ORDER BY l_returnflag""".stripMargin)),

    // trend-aware ingest forecast: Holt linear smoothing over daily
    // event volume (EWMA's trend-carrying sibling — a steady ramp reads
    // as trend, not a perpetual level alarm) + the one-step horizon row
    // tomorrow's volume-anomaly gate compares against; recursion folds
    // driver-side over the O(days) frame, replayed by a recursive CTE
    QuerySpec("q_holt_forecast", ((s, d) =>
      Drift.holtLinear(t(s, d, "events"), "ts")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day").asc_nulls_last)), Sql(
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |idx AS (SELECT day, y, row_number() OVER (ORDER BY day) AS t
        |        FROM daily),
        |nmax AS (SELECT max(t) AS tmax FROM idx),
        |h AS (
        |  SELECT i.t, i.day, i.y, i.y::DOUBLE AS level,
        |         coalesce((SELECT y::DOUBLE FROM idx WHERE t = 2) - i.y,
        |                  0.0::DOUBLE) AS trend,
        |         i.y::DOUBLE AS fitted
        |  FROM idx i WHERE i.t = 1
        |  UNION ALL
        |  SELECT i.t, i.day, i.y,
        |    0.5::DOUBLE * i.y + 0.5::DOUBLE * (h.level + h.trend) AS level,
        |    0.25::DOUBLE * ((0.5::DOUBLE * i.y
        |                     + 0.5::DOUBLE * (h.level + h.trend)) - h.level)
        |      + 0.75::DOUBLE * h.trend AS trend,
        |    h.level + h.trend AS fitted
        |  FROM idx i JOIN h ON i.t = h.t + 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, y,
        |       round(level, 6) AS level, round(trend, 6) AS trend,
        |       round(fitted, 6) AS fitted
        |FROM h
        |UNION ALL
        |SELECT NULL, NULL, NULL, NULL, round(level + trend, 6)
        |FROM h, nmax WHERE t = tmax
        |ORDER BY day NULLS LAST""".stripMargin)),

    // categorical drift of documents.source vs a half-sample baseline —
    // PSI (eps-floored) and its floor-free bounded companion JSD, both
    // recomputed exactly in SQL (sketches are metadata-sized; the
    // statistics are driver-side)
    QuerySpec("q_psi_source", ((s, d) => sourceDriftStat(s, d, "psi", Drift.psi(_, _))), Sql(
      """WITH o AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |           FROM documents GROUP BY 1),
        |b AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ot AS (SELECT sum(n) AS t FROM o), bt AS (SELECT sum(n) AS t FROM b)
        |SELECT round(sum(
        |    (greatest(coalesce(o.n, 0) / ot.t, 0.0001)
        |     - greatest(coalesce(b.n, 0) / bt.t, 0.0001))
        |  * ln(greatest(coalesce(o.n, 0) / ot.t, 0.0001)
        |     / greatest(coalesce(b.n, 0) / bt.t, 0.0001))), 6) AS psi
        |FROM o FULL JOIN b ON o.k = b.k, ot, bt""".stripMargin)),

    QuerySpec("q_jsd_source", ((s, d) => sourceDriftStat(s, d, "jsd", Drift.jsd)), Sql(
      """WITH o AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |           FROM documents GROUP BY 1),
        |b AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ot AS (SELECT sum(n) AS t FROM o), bt AS (SELECT sum(n) AS t FROM b),
        |p AS (SELECT coalesce(o.n, 0) / ot.t AS po, coalesce(b.n, 0) / bt.t AS pb
        |      FROM o FULL JOIN b ON o.k = b.k, ot, bt)
        |SELECT round(sum(
        |    (CASE WHEN po > 0 THEN po * ln(po / ((po + pb) / 2)) ELSE 0 END
        |   + CASE WHEN pb > 0 THEN pb * ln(pb / ((po + pb) / 2)) ELSE 0 END)
        |    / 2), 6) AS jsd
        |FROM p""".stripMargin)),

    // directional categorical drift: KL(observed ‖ baseline) with the
    // PSI eps floor — the quantity importance weighting / cross-entropy
    // monitoring actually bound; rides the same merged O(categories)
    // profiles as psi/jsd
    QuerySpec("q_kl_source", ((s, d) => sourceDriftStat(s, d, "kl", Drift.kl(_, _))), Sql(
      """WITH o AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |           FROM documents GROUP BY 1),
        |b AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ot AS (SELECT sum(n) AS t FROM o), bt AS (SELECT sum(n) AS t FROM b)
        |SELECT round(sum(
        |    greatest(coalesce(o.n, 0) / ot.t, 0.0001)
        |  * ln(greatest(coalesce(o.n, 0) / ot.t, 0.0001)
        |     / greatest(coalesce(b.n, 0) / bt.t, 0.0001))), 6) AS kl
        |FROM o FULL JOIN b ON o.k = b.k, ot, bt""".stripMargin)),

    // per-category PSI attribution: WHICH categories carry the drift,
    // ranked by contribution — the triage between "PSI fired" and
    // knowing what to do; driver math on the merged O(categories)
    // profiles, same inputs as q_psi_source
    QuerySpec("q_psi_breakdown", ((s, d) => {
      val docs = t(s, d, "documents")
      Drift.psiBreakdown(s,
        Drift.categoricalFreq(docs, "source"),
        Drift.categoricalFreq(docs.where(col("doc_id") % 2 === 0),
          "source"))
    }), Sql(
      """WITH o AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |           FROM documents GROUP BY 1),
        |b AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ot AS (SELECT sum(n) AS t FROM o), bt AS (SELECT sum(n) AS t FROM b),
        |terms AS (
        |  SELECT coalesce(o.k, b.k) AS category,
        |    greatest(coalesce(o.n, 0) / ot.t, 0.0001) AS po,
        |    greatest(coalesce(b.n, 0) / bt.t, 0.0001) AS pb,
        |    (greatest(coalesce(o.n, 0) / ot.t, 0.0001)
        |     - greatest(coalesce(b.n, 0) / bt.t, 0.0001))
        |    * ln(greatest(coalesce(o.n, 0) / ot.t, 0.0001)
        |       / greatest(coalesce(b.n, 0) / bt.t, 0.0001)) AS term
        |  FROM o FULL JOIN b ON o.k = b.k, ot, bt)
        |SELECT category, round(po, 6) AS p_obs, round(pb, 6) AS p_base,
        |  round(term, 6) AS psi_term,
        |  CASE WHEN sum(term) OVER () > 0
        |       THEN round(term / sum(term) OVER (), 6) END AS share
        |FROM terms
        |ORDER BY round(term, 6) DESC, category""".stripMargin)),

    // total variation distance — the tight, floor-free drift bound
    // ("no downstream rate can move by more than TV"); same merged
    // O(categories) profiles as psi/jsd/kl
    QuerySpec("q_tv_source", ((s, d) =>
      sourceDriftStat(s, d, "tv", Drift.totalVariation)), Sql(
      """WITH o AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |           FROM documents GROUP BY 1),
        |b AS (SELECT coalesce(source, '<null>') AS k, count(*)::DOUBLE AS n
        |      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ot AS (SELECT sum(n) AS t FROM o), bt AS (SELECT sum(n) AS t FROM b)
        |SELECT round(sum(
        |    abs(coalesce(o.n, 0) / ot.t - coalesce(b.n, 0) / bt.t)) / 2, 6)
        |  AS tv
        |FROM o FULL JOIN b ON o.k = b.k, ot, bt""".stripMargin)),

    // recency-weighted source volume: each event decays by half per 7
    // days back from the corpus's own newest day (never wall-clock) —
    // ranks what is STILL PRODUCING, not what has the biggest archive
    QuerySpec("q_decayed_volume", ((s, d) =>
      Drift.decayedVolume(t(s, d, "events"), "ts", "event_type",
        halfLifeDays = 7.0)), Sql(
      """WITH base AS (
        |  SELECT coalesce(event_type, '<null>') AS g,
        |         CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events WHERE ts IS NOT NULL),
        |r AS (SELECT max(d) AS ref FROM base)
        |SELECT g AS event_type, count(*) AS n_events,
        |  round(sum(pow(0.5::DOUBLE, (r.ref - d)::DOUBLE / 7.0::DOUBLE)),
        |        6) AS decayed_mass,
        |  round(sum(pow(0.5::DOUBLE, (r.ref - d)::DOUBLE / 7.0::DOUBLE))
        |        / count(*), 6) AS freshness
        |FROM base, r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // which slice moved the mean: Welch's unequal-variance t of each
    // source's n_chars vs its complement — ONE sufficient-stats
    // aggregate, complements free (grand − group), stats driver-side
    QuerySpec("q_welch_t", ((s, d) =>
      Drift.welchT(t(s, d, "documents"), "source", "n_chars")
        .orderBy("source")), Sql(
      """WITH st AS (
        |  SELECT coalesce(source, '<null>') AS g, count(*) AS n,
        |         sum(n_chars)::DOUBLE AS s,
        |         sum(n_chars * n_chars)::DOUBLE AS ss
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n, sum(s) AS s,
        |               sum(ss) AS ss FROM st),
        |w AS (
        |  SELECT st.g, st.n AS na, tot.n - st.n AS nb,
        |         st.s / st.n AS ma,
        |         (tot.s - st.s) / (tot.n - st.n) AS mb,
        |         (st.ss - st.s * st.s / st.n) / (st.n - 1) AS va,
        |         ((tot.ss - st.ss)
        |          - (tot.s - st.s) * (tot.s - st.s) / (tot.n - st.n))
        |           / (tot.n - st.n - 1) AS vb
        |  FROM st, tot)
        |SELECT g AS source, na AS n_a, nb AS n_b,
        |  CASE WHEN na < 2 OR nb < 2 THEN NULL
        |       ELSE round((ma - mb) / sqrt(va / na + vb / nb), 6)
        |  END AS t_stat,
        |  CASE WHEN na < 2 OR nb < 2 THEN NULL
        |       ELSE round((va / na + vb / nb) * (va / na + vb / nb)
        |              / ((va / na) * (va / na) / (na - 1)
        |               + (vb / nb) * (vb / nb) / (nb - 1)), 6)
        |  END AS welch_df
        |FROM w ORDER BY 1""".stripMargin)),

    // nonparametric location drift: Mann–Whitney U (tie-corrected z)
    // of English vs non-English n_chars — exact global ranks from a
    // value-keyed aggregate (O(distinct values)), never a global sort
    QuerySpec("q_mannwhitney", ((s, d) =>
      Drift.mannWhitneyU(t(s, d, "documents"), "n_chars",
        col("lang") === "en")), Sql(
      """WITH v AS (
        |  SELECT n_chars::DOUBLE AS x,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS na_v,
        |         count(*) AS n_v
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT na_v, n_v,
        |    coalesce(sum(n_v) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (n_v + 1) / 2.0 AS ar
        |  FROM v),
        |agg AS (
        |  SELECT sum(na_v * ar) AS ra,
        |         CAST(sum(na_v) AS BIGINT) AS na,
        |         CAST(sum(n_v) AS BIGINT) AS n,
        |         sum(n_v::DOUBLE * n_v * n_v - n_v) AS tie
        |  FROM r)
        |SELECT na AS n_a, n - na AS n_b,
        |  round(ra - na * (na + 1) / 2.0, 6) AS u_stat,
        |  round((ra - na * (na + 1) / 2.0 - na::DOUBLE * (n - na) / 2.0)
        |    / sqrt(na::DOUBLE * (n - na) / 12.0
        |         * (n + 1.0 - tie / (n::DOUBLE * (n - 1)))), 6) AS z_stat
        |FROM agg""".stripMargin)),

    // dispersion drift: Brown–Forsythe (median-centered Levene) F for
    // n_chars variance equality across sources — a source fanning out
    // at constant mean trips this and nothing else in the battery
    QuerySpec("q_levene", ((s, d) =>
      Drift.brownForsythe(t(s, d, "documents"), "source", "n_chars")), Sql(
      """WITH ctr AS (
        |  SELECT coalesce(source, '<null>') AS g,
        |         median(n_chars::DOUBLE) AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |z AS (
        |  SELECT ctr.g, abs(d.n_chars::DOUBLE - ctr.c) AS z
        |  FROM documents d
        |  JOIN ctr ON coalesce(d.source, '<null>') = ctr.g
        |  WHERE d.n_chars IS NOT NULL),
        |st AS (SELECT g, count(*) AS n, sum(z) AS s, sum(z * z) AS ss
        |       FROM z GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS k, sum(s) AS s FROM st),
        |parts AS (
        |  SELECT sum(st.n * (st.s / st.n - tot.s / tot.n)
        |              * (st.s / st.n - tot.s / tot.n)) AS ssb,
        |         sum(st.ss - st.s * st.s / st.n) AS ssw
        |  FROM st, tot)
        |SELECT tot.n AS n, CAST(tot.k AS INT) AS k,
        |  CASE WHEN parts.ssw <= 0 THEN NULL
        |       ELSE round((parts.ssb / (tot.k - 1))
        |                  / (parts.ssw / (tot.n - tot.k)), 6) END AS f_stat,
        |  CAST(tot.k - 1 AS INT) AS df1,
        |  CAST(tot.n - tot.k AS BIGINT) AS df2
        |FROM parts, tot""".stripMargin)),

    // sustained-shift ingest monitor: EWMA control chart over daily
    // event volume (closed-form statistic + time-varying limits) —
    // CUSUM's companion: CUSUM localizes a changepoint, EWMA flags
    // persistent low-level drift
    QuerySpec("q_ewma_chart", ((s, d) =>
      Drift.ewmaChart(t(s, d, "events"), "ts").orderBy("day")), Sql(
      """WITH d AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1),
        |idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS t FROM d),
        |base AS (
        |  SELECT sum(x)::DOUBLE / count(*) AS z0,
        |         sqrt((sum(x::DOUBLE * x)
        |               - sum(x)::DOUBLE * sum(x) / count(*))
        |              / (count(*) - 1)) AS sg
        |  FROM d),
        |e AS (
        |  SELECT a.day, a.x, a.t, base.z0, base.sg,
        |    base.z0 * pow(1.0::DOUBLE - 0.2::DOUBLE, a.t)
        |      + sum(b.x * 0.2::DOUBLE
        |            * pow(1.0::DOUBLE - 0.2::DOUBLE, a.t - b.t)) AS ew,
        |    3.0 * base.sg * sqrt(0.2::DOUBLE / (2.0::DOUBLE - 0.2::DOUBLE)
        |      * (1.0 - pow(1.0::DOUBLE - 0.2::DOUBLE, 2.0 * a.t))) AS band
        |  FROM idx a JOIN idx b ON b.t <= a.t, base
        |  GROUP BY a.day, a.x, a.t, base.z0, base.sg)
        |SELECT day, x, round(ew, 6) AS ewma,
        |  round(z0 - band, 6) AS lcl, round(z0 + band, 6) AS ucl,
        |  (ew < z0 - band OR ew > z0 + band) AS out_of_control
        |FROM e ORDER BY day""".stripMargin)),

    // effect size at corpus scale: Cohen's d / Hedges' g of each
    // source's n_chars vs its complement — the "how big is the shift"
    // companion to q_welch_t's "is there a shift"
    QuerySpec("q_cohens_d", ((s, d) =>
      Drift.effectSizes(t(s, d, "documents"), "source", "n_chars")
        .orderBy("source")), Sql(
      """WITH st AS (
        |  SELECT coalesce(source, '<null>') AS g, count(*) AS n,
        |         sum(n_chars)::DOUBLE AS s,
        |         sum(n_chars * n_chars)::DOUBLE AS ss
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n, sum(s) AS s,
        |               sum(ss) AS ss FROM st),
        |w AS (
        |  SELECT st.g, st.n AS na, tot.n - st.n AS nb,
        |         st.s / st.n AS ma,
        |         (tot.s - st.s) / (tot.n - st.n) AS mb,
        |         (st.ss - st.s * st.s / st.n) / (st.n - 1) AS va,
        |         ((tot.ss - st.ss)
        |          - (tot.s - st.s) * (tot.s - st.s) / (tot.n - st.n))
        |           / (tot.n - st.n - 1) AS vb
        |  FROM st, tot),
        |sp AS (
        |  SELECT g, na, nb, ma, mb,
        |    ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2) AS sp2
        |  FROM w)
        |SELECT g AS source, na AS n_a, nb AS n_b,
        |  CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0
        |       THEN round((ma - mb) / sqrt(sp2), 6) END AS cohens_d,
        |  CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0
        |       THEN round((ma - mb) / sqrt(sp2)
        |              * (1.0 - 3.0::DOUBLE / (4.0::DOUBLE * (na + nb)
        |                                      - 9.0::DOUBLE)), 6)
        |  END AS hedges_g
        |FROM sp ORDER BY 1""".stripMargin)),

    // inter-annotator agreement with MISSING ratings and 3 raters —
    // Krippendorff's alpha (nominal), the regime Cohen's kappa can't
    // touch: item = doc_id div 3, raters 0..2, value item-determined
    // (agreement) except rater 2 dissents on %5 docs; %7 ratings
    // missing, so some items fall to one rating and are excluded BY
    // DEFINITION (n_items vs n_items_used surfaces the exclusion)
    QuerySpec("q_krippendorff", ((s, d) =>
      Drift.krippendorffAlpha(krippRatings(s, d), "item", "rater",
        "value")), Sql(
      """WITH r AS (
        |  SELECT doc_id // 3 AS it, doc_id % 3 AS ra,
        |    CASE WHEN doc_id % 5 = 0 AND doc_id % 3 = 2 THEN 'X'
        |         WHEN (doc_id // 3) % 4 = 0 THEN 'A'
        |         WHEN (doc_id // 3) % 4 = 1 THEN 'B'
        |         ELSE 'C' END AS v
        |  FROM documents WHERE doc_id % 7 <> 0),
        |m AS (SELECT it, count(*) AS m FROM r GROUP BY 1),
        |rr AS (SELECT r.it, r.ra, r.v, m.m
        |       FROM r JOIN m USING (it) WHERE m.m >= 2),
        |coin AS (
        |  SELECT a.v AS c1, b.v AS c2, sum(1.0 / (a.m - 1)) AS o
        |  FROM rr a JOIN rr b ON a.it = b.it AND a.ra <> b.ra
        |  GROUP BY 1, 2),
        |marg AS (SELECT c1, sum(o) AS n_c FROM coin GROUP BY 1),
        |tot AS (SELECT sum(n_c) AS n FROM marg),
        |itc AS (SELECT count(DISTINCT it) AS k FROM r),
        |itu AS (SELECT count(DISTINCT it) AS k FROM rr),
        |dd AS (SELECT sum(CASE WHEN c1 <> c2 THEN o ELSE 0 END) AS don
        |       FROM coin),
        |de AS (SELECT sum(a.n_c * b.n_c) AS den
        |       FROM marg a JOIN marg b ON a.c1 <> b.c1)
        |SELECT itc.k AS n_items, itu.k AS n_items_used,
        |  CAST(round(tot.n) AS BIGINT) AS n_pairable_ratings,
        |  round(dd.don / tot.n, 6) AS d_observed,
        |  round(de.den / (tot.n * (tot.n - 1)), 6) AS d_expected,
        |  round(1 - (dd.don / tot.n)
        |          / (de.den / (tot.n * (tot.n - 1))), 6) AS alpha
        |FROM itc, itu, tot, dd, de""".stripMargin)),

    // gold-label consolidation over the SAME ratings fixture: majority
    // vote per item (ties → lexicographically smallest), vote share,
    // unanimity — the step krippendorff's alpha should gate
    QuerySpec("q_label_consensus", ((s, d) =>
      Drift.consolidateLabels(krippRatings(s, d), "item", "rater",
        "value")), Sql(
      """WITH r AS (
        |  SELECT doc_id // 3 AS item, doc_id % 3 AS rater,
        |    CASE WHEN doc_id % 5 = 0 AND doc_id % 3 = 2 THEN 'X'
        |         WHEN (doc_id // 3) % 4 = 0 THEN 'A'
        |         WHEN (doc_id // 3) % 4 = 1 THEN 'B'
        |         ELSE 'C' END AS v
        |  FROM documents WHERE doc_id % 7 <> 0),
        |c AS (SELECT item, v AS label, count(*) AS k FROM r GROUP BY 1, 2),
        |w AS (
        |  SELECT item, label, k,
        |    row_number() OVER (PARTITION BY item
        |                       ORDER BY k DESC, label ASC) AS rk,
        |    CAST(sum(k) OVER (PARTITION BY item) AS BIGINT) AS n,
        |    count(*) OVER (PARTITION BY item) AS d
        |  FROM c)
        |SELECT item, label, n AS n_ratings, k AS n_votes,
        |  round(k::DOUBLE / n::DOUBLE, 6) AS vote_share,
        |  d = 1 AS unanimous
        |FROM w WHERE rk = 1 ORDER BY item""".stripMargin)),

    // per-rater reliability vs that consensus: rater 2's planted %5
    // dissents make them the outlier annotator by construction
    QuerySpec("q_rater_agreement", ((s, d) =>
      Drift.raterAgreement(krippRatings(s, d), "item", "rater", "value")), Sql(
      """WITH r AS (
        |  SELECT doc_id // 3 AS item, doc_id % 3 AS rater,
        |    CASE WHEN doc_id % 5 = 0 AND doc_id % 3 = 2 THEN 'X'
        |         WHEN (doc_id // 3) % 4 = 0 THEN 'A'
        |         WHEN (doc_id // 3) % 4 = 1 THEN 'B'
        |         ELSE 'C' END AS v
        |  FROM documents WHERE doc_id % 7 <> 0),
        |c AS (SELECT item, v AS label, count(*) AS k FROM r GROUP BY 1, 2),
        |w AS (
        |  SELECT item, label,
        |    row_number() OVER (PARTITION BY item
        |                       ORDER BY k DESC, label ASC) AS rk
        |  FROM c),
        |g AS (SELECT item, label AS gold FROM w WHERE rk = 1)
        |SELECT rater, count(*) AS n_rated,
        |  CAST(sum(CASE WHEN v = gold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_agree,
        |  round(sum(CASE WHEN v = gold THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*)::DOUBLE, 6) AS agree_rate
        |FROM r JOIN g USING (item)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // empirical-Bayes host quality: the q_host_reputation fixture with
    // beta-binomial shrinkage toward the global keep rate (k = 20
    // pseudo-counts) — the ranking fix for tiny-host noise
    QuerySpec("q_host_shrunk", ((s, d) => {
      val host0 = when(col("doc_id") % 3 === 0,
          concat(lower(col("source")), lit(".example.com")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("www."), lower(col("source")), lit(".example.com")))
        .otherwise(concat(lower(col("source")), lit(".net")))
      val withUrl = t(s, d, "documents").select(col("doc_id"),
        concat(lit("http://"), host0, lit("/p/"), col("doc_id")).as("url"),
        col("n_chars").between(200, 3000).as("keep"))
      graft.operators.WebFilter
        .hostQualityShrunk(withUrl, "url", "keep", priorStrength = 20.0)
        .orderBy("host")
    }), Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN lower(source) || '.example.com'
        |         WHEN doc_id % 3 = 1
        |           THEN 'www.' || lower(source) || '.example.com'
        |         ELSE lower(source) || '.net' END AS host,
        |    n_chars BETWEEN 200 AND 3000 AS keep
        |  FROM documents),
        |h AS (
        |  SELECT host, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |  FROM u GROUP BY 1),
        |g AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nn,
        |             CAST(sum(n_keep) AS DOUBLE) AS kk FROM h)
        |SELECT host, n_docs, n_keep,
        |  round(CAST(n_keep AS DOUBLE) / n_docs, 6) AS keep_rate,
        |  round((CAST(n_keep AS DOUBLE) + 20.0 * (g.kk / g.nn))
        |        / (CAST(n_docs AS DOUBLE) + 20.0), 6) AS shrunk_rate
        |FROM h, g ORDER BY host""".stripMargin)),

    // Benjamini-Hochberg step-up FDR over a 97-rule check battery
    // (planted p-values: 10 strong signals, 6 unscored NULLs, the rest
    // a deterministic uniform spread) — the multiple-testing control a
    // 288-check validation battery needs; k* step-up, NULLs excluded
    // from m and carried with NULL verdicts
    QuerySpec("q_bh_fdr", ((s, d) => {
      val rules = t(s, d, "documents")
        .select((col("doc_id") % 97).as("rule_id")).distinct()
      val pv = rules.select(col("rule_id"),
        when(col("rule_id") < 10,
            col("rule_id").cast("double") / lit(10000.0))
          .when(col("rule_id") % 13 === 7, lit(null: java.lang.Double))
          .otherwise(((col("rule_id") * lit(2654435761L)) % lit(4294967296L))
            .cast("double") / lit(4294967296.0)).as("p"))
      Drift.benjaminiHochberg(pv, "rule_id", "p", q = 0.05)
    }), Sql(
      """WITH ru AS (SELECT DISTINCT doc_id % 97 AS rule_id FROM documents),
        |pv AS (
        |  SELECT rule_id,
        |    CASE WHEN rule_id < 10 THEN rule_id / 10000.0::DOUBLE
        |         WHEN rule_id % 13 = 7 THEN NULL
        |         ELSE ((rule_id * 2654435761) % 4294967296)::DOUBLE
        |              / 4294967296.0::DOUBLE
        |    END AS p
        |  FROM ru),
        |sc AS (SELECT rule_id, p FROM pv WHERE p IS NOT NULL),
        |m AS (SELECT count(*)::DOUBLE AS m FROM sc),
        |rk AS (SELECT rule_id, p,
        |         CAST(row_number() OVER (ORDER BY p, rule_id) AS INT)
        |           AS rank
        |       FROM sc),
        |k AS (SELECT coalesce(max(CASE WHEN rk.p <= rk.rank
        |                                    * 0.05::DOUBLE / m.m
        |                               THEN rk.rank END), 0) AS ks
        |      FROM rk, m)
        |SELECT rk.rule_id, round(rk.p, 6) AS p, rk.rank,
        |       round(rk.rank * 0.05::DOUBLE / m.m, 6) AS bh_threshold,
        |       rk.rank <= k.ks AS reject
        |FROM rk, m, k
        |UNION ALL
        |SELECT rule_id, NULL, NULL, NULL, NULL FROM pv WHERE p IS NULL
        |ORDER BY rank NULLS LAST""".stripMargin)),

    // ingest-volume anomaly detection: hourly counts per event_type
    // z-scored against the trailing 6 buckets of the same type (cold
    // start / flat history → NULL z, never flagged)
    // hourly volume z-scores: same trailing ROWS frame, same
    // sd>0-guarded z, anomaly from the ROUNDED z on both sides
    QuerySpec("q_volume_anomaly", ((s, d) =>
      Drift.volumeAnomalies(t(s, d, "events"), "ts", "event_type",
          trailing = 6, zThreshold = 2.0)
        .orderBy("event_type", "hour")), Sql(
      """WITH c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, h, n,
        |         avg(CAST(n AS DOUBLE)) OVER win AS mu,
        |         stddev_samp(CAST(n AS DOUBLE)) OVER win AS sd
        |  FROM c WINDOW win AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, h, n,
        |         CASE WHEN sd > 0
        |           THEN round((CAST(n AS DOUBLE) - mu)/sd, 6) END AS z
        |  FROM w)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n, z,
        |       coalesce(abs(z) >= 2.0, false) AS anomaly
        |FROM z ORDER BY event_type, hour""".stripMargin)),

    // day-over-day event-volume trend ratios per type (first day NULL)
    // day-grain trend: same lag-over-present-days window, ratio of
    // exact integer counts, NULL on each group's first day
    QuerySpec("q_daily_trend", ((s, d) =>
      Drift.dailyTrend(t(s, d, "events"), "ts", "event_type")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("event_type", "day")), Sql(
      """WITH c AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         count(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |       CAST(n AS BIGINT) AS n,
        |       round(n * 1.0 / lag(n) OVER (
        |         PARTITION BY event_type ORDER BY day), 6) AS ratio
        |FROM c ORDER BY event_type, day""".stripMargin)),

    // curation-gate significance: two-proportion z of each source's
    // length-gate pass rate vs its complement (pooled variance, NULL z
    // on degenerate pools) — "3 points below the rest: noise or signal"
    QuerySpec("q_gate_ztest", ((s, d) =>
      Drift.twoProportionZ(t(s, d, "documents"), "source",
        col("n_chars") >= 200)), Sql(
      """WITH per AS (
        |  SELECT coalesce(source, '<null>') AS g, count(*) AS n,
        |         sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS k
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn, sum(k) AS kk FROM per)
        |SELECT per.g AS source, per.n, per.k AS n_success,
        |  round(per.k::DOUBLE / per.n, 6) AS rate,
        |  CASE WHEN (tot.nn - per.n) = 0 OR tot.kk::DOUBLE / tot.nn <= 0
        |         OR tot.kk::DOUBLE / tot.nn >= 1 THEN NULL
        |       ELSE round((per.k::DOUBLE / per.n
        |                   - (tot.kk - per.k)::DOUBLE / (tot.nn - per.n))
        |            / sqrt(tot.kk::DOUBLE / tot.nn
        |                   * (1 - tot.kk::DOUBLE / tot.nn)
        |                   * (1.0::DOUBLE / per.n
        |                      + 1.0::DOUBLE / (tot.nn - per.n))), 6)
        |  END AS z
        |FROM per, tot ORDER BY source""".stripMargin)),

    // conditional mix-shift: source × lang independence chi-square —
    // both marginals can be stable while the joint drifts (a source
    // switching language); fully in-plan, one (a,b) count exchange
    // contingency chi-square over the FULL margin grid (empty cells
    // contribute their expectation), '<null>' category for NULLs
    QuerySpec("q_chi_contingency", ((s, d) =>
      Drift.contingencyChiSquare(t(s, d, "documents"), "source", "lang")), Sql(
      """WITH cnt AS (
        |  SELECT coalesce(source, '<null>') AS a,
        |         coalesce(lang, '<null>') AS b, count(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, sum(n) AS na FROM cnt GROUP BY 1),
        |cb AS (SELECT b, sum(n) AS nb FROM cnt GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t,
        |               count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
        |        FROM cnt),
        |grid AS (
        |  SELECT ra.a, cb.b, ra.na, cb.nb, coalesce(cnt.n, 0) AS o
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cnt ON cnt.a = ra.a AND cnt.b = cb.b)
        |SELECT CAST(sum(o) AS BIGINT) AS n,
        |       CAST((max(tot.ka) - 1) * (max(tot.kb) - 1) AS BIGINT) AS dof,
        |       round(sum((CAST(o AS DOUBLE)
        |                  - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / tot.t)
        |                 * (CAST(o AS DOUBLE)
        |                    - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / tot.t)
        |                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / tot.t)),
        |             6) AS chi_square
        |FROM grid CROSS JOIN tot""".stripMargin)),

    // distribution-free trust radii: each source's gate rate with its
    // Hoeffding 95/99% epsilon — "0.83 +- 0.19" stops people acting
    // on small-n noise; valid at ANY n, no normality assumption
    QuerySpec("q_sample_bounds", ((s, d) =>
      Drift.hoeffdingBounds(t(s, d, "documents"), "source",
        col("n_chars") >= 200)), Sql(
      """SELECT coalesce(source, '<null>') AS source, count(*) AS n,
        |  round(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 6) AS rate,
        |  round(sqrt(ln(2.0::DOUBLE / 0.05::DOUBLE)
        |             / (2.0::DOUBLE * count(*))), 6) AS eps_95,
        |  round(sqrt(ln(2.0::DOUBLE / 0.01::DOUBLE)
        |             / (2.0::DOUBLE * count(*))), 6) AS eps_99
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // day-grain PSI trend of the event-type mix vs day one — the drift
    // dashboard line; one bounded (day, cat) aggregate, in-plan
    // baseline, grid-bounded joins
    QuerySpec("q_daily_psi", ((s, d) =>
      Drift.psiTrend(t(s, d, "events"), "ts", "event_type")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day")), Sql(
      """WITH c AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |         coalesce(CAST(event_type AS VARCHAR), '<null>') AS cat,
        |         count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |d0 AS (SELECT min(day) AS day FROM c),
        |b AS (SELECT cat, n AS nb FROM c JOIN d0 USING (day)),
        |tb AS (SELECT CAST(sum(nb) AS BIGINT) AS tb FROM b),
        |t AS (SELECT day, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1),
        |g AS (SELECT d.day, k.cat FROM (SELECT DISTINCT day FROM c) d,
        |      (SELECT DISTINCT cat FROM c) k),
        |j AS (
        |  SELECT g.day, t.t AS tt,
        |    greatest(CAST(coalesce(c.n, 0) AS DOUBLE)
        |      / CAST(t.t AS DOUBLE), 0.0001) AS po,
        |    greatest(CAST(coalesce(b.nb, 0) AS DOUBLE)
        |      / CAST(tb.tb AS DOUBLE), 0.0001) AS pb
        |  FROM g LEFT JOIN c ON g.day = c.day AND g.cat = c.cat
        |  LEFT JOIN b ON g.cat = b.cat
        |  JOIN t ON g.day = t.day
        |  CROSS JOIN tb)
        |SELECT strftime(day, '%Y-%m-%d') AS day, max(tt) AS n_rows,
        |       round(sum((po - pb) * ln(po / pb)), 6) AS psi
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // inter-annotator agreement (Cohen's kappa) for labeled-data
    // QC: two deterministic pseudo-annotators from id arithmetic;
    // kappa corrects raw agreement by the chance floor p_e
    QuerySpec("q_cohen_kappa", ((s, d) => {
      val labeled = t(s, d, "documents").select(
        when(col("doc_id") % 4 <= 1, lit("pos")).otherwise(lit("neg"))
          .as("a"),
        when(col("doc_id") % 4 === 0 || col("doc_id") % 7 === 0,
          lit("pos")).otherwise(lit("neg")).as("b"))
      Drift.cohenKappa(labeled, "a", "b")
    }), Sql(
      """WITH l AS (
        |  SELECT CASE WHEN doc_id % 4 <= 1 THEN 'pos' ELSE 'neg' END AS a,
        |         CASE WHEN doc_id % 4 = 0 OR doc_id % 7 = 0 THEN 'pos'
        |              ELSE 'neg' END AS b
        |  FROM documents),
        |c AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS DOUBLE) AS t,
        |  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS DOUBLE) AS agree,
        |  CAST(sum(CASE WHEN a = 'pos' THEN 1 ELSE 0 END) AS DOUBLE) AS nap,
        |  CAST(sum(CASE WHEN b = 'pos' THEN 1 ELSE 0 END) AS DOUBLE) AS nbp
        |  FROM l)
        |SELECT n, round(agree / t, 6) AS p_o,
        |       round((nap / t) * (nbp / t)
        |             + ((t - nap) / t) * ((t - nbp) / t), 6) AS p_e,
        |       round((agree / t
        |               - ((nap / t) * (nbp / t)
        |                  + ((t - nap) / t) * ((t - nbp) / t)))
        |             / (1.0 - ((nap / t) * (nbp / t)
        |                  + ((t - nap) / t) * ((t - nbp) / t))), 6) AS kappa
        |FROM c""".stripMargin)),

    // per-stream freshness: staleness behind the newest event
    // anywhere + mean arrival rate over each stream's own span
    QuerySpec("q_freshness", ((s, d) =>
      Drift.freshness(t(s, d, "events"), "event_type", "ts")
        .select(col("event_type"), col("n_events"),
          date_format(col("first_ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          col("staleness_s"), col("events_per_hour"))
        .orderBy("event_type")), Sql(
      """WITH p AS (SELECT COALESCE(CAST(event_type AS VARCHAR), '<null>')
        |             AS event_type,
        |             count(*) AS n_events,
        |             min(ts) AS first_ts, max(ts) AS last_ts
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |g AS (SELECT max(last_ts) AS gmax FROM p)
        |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
        |       strftime(first_ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
        |       strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
        |       round(epoch_us(gmax) / 1e6 - epoch_us(last_ts) / 1e6, 6)
        |         AS staleness_s,
        |       CASE WHEN epoch_us(last_ts) / 1e6 - epoch_us(first_ts) / 1e6 > 0
        |            THEN round(CAST(n_events AS DOUBLE) /
        |              ((epoch_us(last_ts) / 1e6 - epoch_us(first_ts) / 1e6)
        |               / 3600.0), 6) END AS events_per_hour
        |FROM p, g ORDER BY event_type""".stripMargin)),

    // QQ-decile drift observability: WHERE two cohorts differ
    // (body vs tail), one exact-percentile aggregate per side at
    // dyadic eighths over integer cents — interpolation products stay
    // exact in double, so both engines agree bit-for-bit
    QuerySpec("q_qq_deciles", ((s, d) => {
      val li = t(s, d, "lineitem").withColumn("cents",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      // both side-histograms ride ONE scan (the two-frame spelling ran
      // two separate collect jobs — exchange reuse never crosses jobs)
      Drift.qqQuantilesSplit(li, col("l_orderkey") % 2 === 0,
        col("l_orderkey") % 2 =!= 0, "cents",
        Seq(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))
    }), Sql(
      """WITH a AS (
        |  SELECT quantile_cont(CAST(CAST(round(l_extendedprice * 100)
        |           AS BIGINT) AS DOUBLE),
        |         [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
        |  FROM lineitem WHERE l_orderkey % 2 = 0),
        |b AS (
        |  SELECT quantile_cont(CAST(CAST(round(l_extendedprice * 100)
        |           AS BIGINT) AS DOUBLE),
        |         [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
        |  FROM lineitem WHERE l_orderkey % 2 <> 0),
        |p AS (
        |  SELECT unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS p,
        |         unnest(range(1, 8)) AS i)
        |SELECT p.p, a.qs[CAST(i AS INT)] AS q_a, b.qs[CAST(i AS INT)] AS q_b,
        |       b.qs[CAST(i AS INT)] - a.qs[CAST(i AS INT)] AS diff
        |FROM p, a, b ORDER BY p""".stripMargin)),

    // Theil–Sen robust trend of daily event volume: median of
    // pairwise slopes over the O(days) aggregated series — one outlier
    // day barely moves it; both medians replay exactly in DuckDB
    QuerySpec("q_theil_sen", ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          datediff(col("day"), lit("2024-01-01")).cast("double").as("x"),
          col("cnt").cast("double").as("y"))
      Drift.theilSenTrend(daily, "x", "y")
        .select(col("n_points"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
    }), Sql(
      """WITH dy AS (
        |  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |              AS DOUBLE) AS x,
        |         CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |sl AS (
        |  SELECT median((b.y - a.y) / (b.x - a.x)) AS slope
        |  FROM dy a JOIN dy b ON a.x < b.x),
        |ic AS (
        |  SELECT median(y - (SELECT slope FROM sl) * x) AS intercept FROM dy)
        |SELECT (SELECT count(*) FROM dy) AS n_points,
        |       round((SELECT slope FROM sl), 6) AS slope,
        |       round((SELECT intercept FROM ic), 6) AS intercept""".stripMargin)),

    // rank-biased overlap between two top-50 quality rankings
    // (3/4 shared scores → high but non-1 RBO): rankings built with
    // TakeOrdered + a window over the 50-row frame, never the corpus
    // (1.0 − 0.9) spelled as DOUBLE subtraction — DuckDB's DECIMAL
    // literals would otherwise yield exact 0.1 vs IEEE 0.0999…8
    QuerySpec("q_rbo", ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val id = col("doc_id").cast("long")
      val s1 = (id * 2654435761L + 7L) % 1000000007L
      val s2 = when(id % 4 === 0,
        (id * 1099511627L + 13L) % 1000000007L).otherwise(s1)
      def rank(score: Column): DataFrame =
        docs.select(col("doc_id"), score.as("__s"))
          .orderBy(desc("__s"), col("doc_id")).limit(50)
          .withColumn("rank", row_number().over(
            Window.orderBy(desc("__s"), col("doc_id"))))
      Drift.rankBiasedOverlap(rank(s1), rank(s2), "doc_id", "rank",
        k = 50, p = 0.9)
    }), Sql(
      """WITH s AS (
        |  SELECT doc_id,
        |         (doc_id * 2654435761 + 7) % 1000000007 AS s1,
        |         CASE WHEN doc_id % 4 = 0
        |              THEN (doc_id * 1099511627 + 13) % 1000000007
        |              ELSE (doc_id * 2654435761 + 7) % 1000000007
        |         END AS s2
        |  FROM documents),
        |ra AS (SELECT doc_id,
        |              CAST(row_number() OVER (ORDER BY s1 DESC, doc_id)
        |                   AS BIGINT) AS r
        |       FROM s ORDER BY s1 DESC, doc_id LIMIT 50),
        |rb AS (SELECT doc_id,
        |              CAST(row_number() OVER (ORDER BY s2 DESC, doc_id)
        |                   AS BIGINT) AS r
        |       FROM s ORDER BY s2 DESC, doc_id LIMIT 50),
        |m AS (SELECT greatest(ra.r, rb.r) AS m
        |      FROM ra JOIN rb USING (doc_id)),
        |dd AS (SELECT unnest(range(1, 51)) AS d),
        |x AS (SELECT dd.d,
        |             (SELECT count(*) FROM m WHERE m.m <= dd.d) AS x
        |      FROM dd)
        |SELECT round(sum((CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE)) *
        |                 pow(CAST(0.9 AS DOUBLE), x.d - 1) *
        |                 (CAST(x.x AS DOUBLE) / CAST(x.d AS DOUBLE))), 6)
        |         AS rbo,
        |       CAST(max(x.x) AS BIGINT) AS n_common,
        |       CAST(50 AS BIGINT) AS k
        |FROM x""".stripMargin)),

    // lag-k autocorrelation of hourly event volume (seasonality /
    // double-fire QC); pairs via hash self-join on the O(hours) frame
    // autocorrelation: integer bucket counts, pairs via bucket+lag
    // hash join, r from integer sums in the identical IEEE order
    QuerySpec("q_autocorr", ((s, d) =>
      Drift.autocorrelation(t(s, d, "events"), "ts",
        Seq(1, 2, 3, 6, 12, 24))), Sql(
      """WITH c AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS b,
        |         count(*) AS x
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
        |             CAST(sum(x * x) AS BIGINT) AS q FROM c),
        |l AS (SELECT CAST(unnest([1, 2, 3, 6, 12, 24]) AS BIGINT)
        |        AS lag),
        |p AS (
        |  SELECT l.lag, count(*) AS n_pairs,
        |         CAST(sum(a.x * d.x) AS BIGINT) AS sxy,
        |         CAST(sum(a.x) AS BIGINT) AS sx,
        |         CAST(sum(d.x) AS BIGINT) AS sy
        |  FROM l JOIN c a ON TRUE JOIN c d ON a.b + l.lag = d.b
        |  GROUP BY l.lag)
        |SELECT l.lag, coalesce(p.n_pairs, 0) AS n_pairs,
        |  CASE WHEN p.n_pairs IS NOT NULL
        |            AND (CAST(g.q AS DOUBLE)
        |                 - CAST(g.n AS DOUBLE)
        |                   * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
        |                   * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)))
        |                > 0
        |       THEN round((CAST(p.sxy AS DOUBLE)
        |           - (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
        |             * CAST(p.sx AS DOUBLE)
        |           - (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
        |             * CAST(p.sy AS DOUBLE)
        |           + CAST(p.n_pairs AS DOUBLE)
        |             * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
        |             * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)))
        |         / (CAST(g.q AS DOUBLE)
        |            - CAST(g.n AS DOUBLE)
        |              * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
        |              * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))), 6)
        |       ELSE NULL END AS r
        |FROM l LEFT JOIN p USING (lag), g ORDER BY lag""".stripMargin)),

    // CUSUM changepoint scan on daily volume: cumulative deviation
    // from the mean, extremum = the level-shift estimate; S_i derived
    // as cum_int − i·mean so both engines' doubles are bit-identical
    // CUSUM: same present-bucket counts, S_i = cum_int − i·(T/d)
    QuerySpec("q_cusum", ((s, d) =>
      Drift.cusum(t(s, d, "events"), "ts", bucketSecs = 86400L)), Sql(
      """WITH c AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tt,
        |             CAST(count(*) AS BIGINT) AS d FROM c),
        |s AS (SELECT bucket, n_events,
        |        CAST(sum(n_events) OVER (ORDER BY bucket) AS DOUBLE)
        |          - CAST(row_number() OVER (ORDER BY bucket) AS DOUBLE)
        |            * (CAST(t.tt AS DOUBLE) / CAST(t.d AS DOUBLE)) AS sv
        |      FROM c, t),
        |m AS (SELECT max(abs(sv)) AS mx FROM s),
        |pb AS (SELECT min(bucket) AS pb FROM s, m WHERE abs(sv) = m.mx)
        |SELECT bucket, n_events, round(sv, 6) AS cusum,
        |       (bucket = pb.pb) AS is_peak
        |FROM s, pb ORDER BY bucket""".stripMargin)),

    // Cramér's V between lang and source: the "are these labels
    // redundant" association number; full r×c grid incl. zero cells
    // Cramér's V: same contingency cells, margins re-aggregated, full
    // grid with zero-observed cells contributing expected mass
    QuerySpec("q_cramers_v", ((s, d) =>
      Drift.cramersV(t(s, d, "documents"), "lang", "source")), Sql(
      """WITH cells AS (
        |  SELECT coalesce(CAST(lang AS VARCHAR), '<null>') AS a,
        |         coalesce(CAST(source AS VARCHAR), '<null>') AS b,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells
        |       GROUP BY a),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells
        |       GROUP BY b),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |             CAST(count(DISTINCT a) AS BIGINT) AS r,
        |             CAST(count(DISTINCT b) AS BIGINT) AS c FROM cells),
        |grid AS (
        |  SELECT ra.a, cb.b, ra.ra, cb.cb,
        |         coalesce(cells.o, 0) AS obs
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
        |chi AS (
        |  SELECT sum(
        |    (CAST(obs AS DOUBLE)
        |     - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |       / CAST(n.n AS DOUBLE))
        |    * (CAST(obs AS DOUBLE)
        |       - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |         / CAST(n.n AS DOUBLE))
        |    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |       / CAST(n.n AS DOUBLE))) AS chi
        |  FROM grid, n)
        |SELECT n.n AS n, n.r AS r, n.c AS c,
        |  round(chi.chi, 6) AS chi_square,
        |  CASE WHEN least(n.r, n.c) > 1
        |       THEN round(sqrt(chi.chi / (CAST(n.n AS DOUBLE)
        |                  * CAST(least(n.r, n.c) - 1 AS DOUBLE))), 6)
        |  END AS cramers_v
        |FROM chi, n""".stripMargin)),

    // prospective two-proportion power analysis per event_type: rows
    // per arm needed to detect a 5% relative lift in P(value > 50),
    // z constants pinned as literals (no inverse normal CDF in either
    // engine); one sufficient-stats aggregate, O(groups) arithmetic
    QuerySpec("q_power_analysis", ((s, d) =>
      Drift.powerAnalysis(t(s, d, "events"), "event_type",
        col("value") > 50)), Sql(
      """WITH per AS (
        |  SELECT coalesce(CAST(event_type AS VARCHAR), '<null>')
        |           AS event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_success
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, n_success,
        |    CAST(n_success AS DOUBLE) / n AS p1,
        |    CAST(n_success AS DOUBLE) / n * 1.05 AS p2
        |  FROM per),
        |r AS (
        |  SELECT event_type, n, n_success, p1, p2,
        |    CASE WHEN p1 <= 0 OR p1 >= 1 OR p2 >= 1 OR p2 <= 0 THEN NULL
        |         ELSE CAST(ceil(
        |           pow(1.9599639845400545
        |                 * sqrt(2.0 * ((p1 + p2) / 2.0)
        |                        * (1.0 - (p1 + p2) / 2.0))
        |               + 0.8416212335729143
        |                 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2)
        |           / pow(p2 - p1, 2)) AS BIGINT) END AS n_required
        |  FROM f)
        |SELECT event_type, n, n_success, round(p1, 6) AS rate,
        |  CASE WHEN n_required IS NULL THEN NULL
        |       ELSE round(p2, 6) END AS target_rate,
        |  n_required,
        |  CASE WHEN n_required IS NULL THEN NULL
        |       ELSE n >= n_required END AS sufficient
        |FROM r ORDER BY event_type""".stripMargin)),

    // CUPED variance reduction: per-user pre (view spend) vs
    // post (purchase spend), decimal-exact sufficient stats — how
    // much experiment sample the covariate buys back
    QuerySpec("q_cuped", ((s, d) => {
      val dec6 = "decimal(38,6)"
      val per = t(s, d, "events").groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "view",
            col("value").cast(dec6)).otherwise(lit(0).cast(dec6)))
            .as("pre"),
          sum(when(col("event_type") === "purchase",
            col("value").cast(dec6)).otherwise(lit(0).cast(dec6)))
            .as("post"))
      Drift.cuped(per, "pre", "post")
    }), Sql(
      """WITH per AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'view'
        |             THEN CAST(value AS DECIMAL(38,6))
        |             ELSE CAST(0 AS DECIMAL(38,6)) END) AS x,
        |    sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(value AS DECIMAL(38,6))
        |             ELSE CAST(0 AS DECIMAL(38,6)) END) AS y
        |  FROM events GROUP BY 1),
        |b AS (SELECT x, y FROM per
        |      WHERE x IS NOT NULL AND y IS NOT NULL),
        |a AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM b),
        |f AS (
        |  SELECT n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS vy
        |  FROM a)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN vx > 0 THEN round(cov / vx, 6) END AS theta,
        |  CASE WHEN vx > 0 AND vy > 0
        |       THEN round(cov * cov / (vx * vy), 6) END AS var_reduction
        |FROM f""".stripMargin)),

    // empirical-Bernstein trust radii next to Hoeffding's: the
    // variance-adaptive bound that turns "±0.19, unusable" into
    // "±0.03, actionable" on skewed gate rates; variance exact from
    // the integer counts
    QuerySpec("q_eb_radius", ((s, d) =>
      Drift.empiricalBernsteinBounds(t(s, d, "events"), "event_type",
        col("value") > 50)), Sql(
      """WITH per AS (
        |  SELECT coalesce(CAST(event_type AS VARCHAR), '<null>')
        |           AS event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS k
        |  FROM events GROUP BY 1)
        |SELECT event_type, n, round(CAST(k AS DOUBLE) / n, 6) AS rate,
        |  round(sqrt(ln(2.0 / 0.05) / (2.0 * n)), 6) AS eps_hoeffding,
        |  CASE WHEN n > 1 THEN round(
        |    sqrt(2.0 * (CAST(k AS DOUBLE) * (n - k)
        |                / (CAST(n AS DOUBLE) * greatest(n - 1.0, 1.0)))
        |         * ln(3.0 / 0.05) / n)
        |    + 3.0 * ln(3.0 / 0.05) / n, 6) END AS eps_bernstein
        |FROM per ORDER BY event_type""".stripMargin)),

    // day-jackknife SE of a ratio metric (avg event value): the
    // clustered-data metrology a row bootstrap understates; leave-one-
    // day-out replicas from complements on the O(days) frame
    QuerySpec("q_jackknife_ratio", ((s, d) =>
      Drift.jackknifeRatio(t(s, d, "events"), "ts", col("value"))), Sql(
      """WITH days AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         sum(CAST(value AS DECIMAL(38,6))) AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT sum(x) AS tx, sum(y) AS ty,
        |         CAST(count(*) AS BIGINT) AS n_days
        |  FROM days),
        |loo AS (
        |  SELECT n_days, tx, ty,
        |    CAST(tx - x AS DOUBLE) / CAST(ty - y AS DOUBLE) AS ri
        |  FROM days, tot),
        |a AS (
        |  SELECT n_days, tx, ty, avg(ri) AS rbar, sum(ri * ri) AS rsq
        |  FROM loo GROUP BY 1, 2, 3)
        |SELECT n_days,
        |  round(CAST(tx AS DOUBLE) / CAST(ty AS DOUBLE), 6) AS ratio,
        |  CASE WHEN n_days > 1 THEN round(sqrt(greatest(0.0,
        |    (CAST(n_days AS DOUBLE) - 1.0) / CAST(n_days AS DOUBLE)
        |    * (rsq - CAST(n_days AS DOUBLE) * rbar * rbar))), 6)
        |  END AS se_jackknife
        |FROM a""".stripMargin)),

    // Wald SPRT per event_type vs the pooled baseline: the
    // sequential gate that stops collecting the moment the llr
    // crosses a boundary — powerAnalysis's streaming sibling
    QuerySpec("q_sprt", ((s, d) =>
      Drift.sprtGate(t(s, d, "events"), "event_type",
        col("value") > 50)), Sql(
      """WITH per AS (
        |  SELECT coalesce(CAST(event_type AS VARCHAR), '<null>')
        |           AS event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS k
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(n) AS nn, sum(k) AS kk FROM per),
        |c AS (
        |  SELECT event_type, n, k,
        |    CAST(kk AS DOUBLE) / nn AS p0,
        |    CAST(kk AS DOUBLE) / nn * 1.05 AS p1
        |  FROM per, t),
        |r AS (
        |  SELECT event_type, n, k, p0, p1,
        |    CASE WHEN p0 <= 0 OR p1 >= 1 THEN NULL
        |         ELSE round(k * ln(p1 / p0)
        |                    + (n - k) * ln((1.0 - p1) / (1.0 - p0)), 6)
        |    END AS llr
        |  FROM c)
        |SELECT event_type, n, k AS n_success,
        |  round(CAST(k AS DOUBLE) / n, 6) AS rate, llr,
        |  round(ln(0.2 / (1.0 - 0.05)), 6) AS lower,
        |  round(ln((1.0 - 0.2) / 0.05), 6) AS upper,
        |  CASE WHEN p0 <= 0 OR p1 >= 1 THEN 'untestable'
        |       WHEN llr >= round(ln((1.0 - 0.2) / 0.05), 6)
        |         THEN 'accept_h1'
        |       WHEN llr <= round(ln(0.2 / (1.0 - 0.05)), 6)
        |         THEN 'accept_h0'
        |       ELSE 'continue' END AS verdict
        |FROM r ORDER BY event_type""".stripMargin)),

    // KS + chi-square drift over oracle-visible data: shifted l_quantity
    // vs its own baseline histogram; l_returnflag freq vs a half-sample
    // baseline (both statistics recomputable exactly in SQL)
    QuerySpec("q_seq_drift", ((s, d) => {
      val li = t(s, d, "lineitem")
      val base = Drift.numericHistogram(li, "l_quantity", 0.0, 55.0, 64)
      val baseFreq = Drift.categoricalFreq(
        li.where(col("l_orderkey") % 2 === 0), "l_returnflag")
      val shifted = li.withColumn("l_quantity", col("l_quantity") + lit(5.0))
      val v = Drift.check(shifted, "l_quantity", base, "l_returnflag", baseFreq)
      import s.implicits._
      // HALF_UP to match SQL round() semantics exactly
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((r6(v.ksStatistic), r6(v.ksCritical), v.ksDrifted, r6(v.chiSquare)))
        .toDF("ks_stat", "ks_critical", "ks_drifted", "chi_square")
    }), Sql(
      """WITH cnt AS (
        |  SELECT b, sum(CASE WHEN src = 'c' THEN 1 ELSE 0 END) AS nc,
        |         sum(CASE WHEN src = 'b' THEN 1 ELSE 0 END) AS nb
        |  FROM (
        |    SELECT 'b' AS src, CASE WHEN l_quantity < 0 THEN 0
        |      WHEN l_quantity >= 55.0 THEN 65
        |      ELSE 1 + least(63, CAST(floor((l_quantity / 55.0) * 64) AS INT)) END AS b
        |    FROM lineitem
        |    UNION ALL
        |    SELECT 'c', CASE WHEN l_quantity + 5.0 < 0 THEN 0
        |      WHEN l_quantity + 5.0 >= 55.0 THEN 65
        |      ELSE 1 + least(63, CAST(floor(((l_quantity + 5.0) / 55.0) * 64) AS INT)) END
        |    FROM lineitem)
        |  GROUP BY 1),
        |bins AS (SELECT unnest(range(0, 66)) AS b),
        |filled AS (
        |  SELECT bins.b AS b, coalesce(cnt.nc, 0) AS nc, coalesce(cnt.nb, 0) AS nb
        |  FROM bins LEFT JOIN cnt ON bins.b = cnt.b),
        |ec AS (
        |  SELECT b,
        |    sum(nc) OVER (ORDER BY b) / (SELECT sum(nc) FROM filled)::DOUBLE AS fc,
        |    sum(nb) OVER (ORDER BY b) / (SELECT sum(nb) FROM filled)::DOUBLE AS fb
        |  FROM filled),
        |ks AS (SELECT max(abs(fc - fb)) AS stat FROM ec),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM lineitem),
        |crit AS (SELECT sqrt(-0.5 * ln(0.005)) * sqrt((n + n) / (n * n)) AS v FROM nn),
        |chi AS (
        |  SELECT sum(((o.n - greatest(b.n / bt.t * ot.t, 0.5))
        |              * (o.n - greatest(b.n / bt.t * ot.t, 0.5)))
        |             / greatest(b.n / bt.t * ot.t, 0.5)) AS stat
        |  FROM (SELECT l_returnflag AS k, count(*)::DOUBLE AS n FROM lineitem GROUP BY 1) o
        |  FULL JOIN (SELECT l_returnflag AS k, count(*)::DOUBLE AS n FROM lineitem
        |             WHERE l_orderkey % 2 = 0 GROUP BY 1) b ON o.k = b.k,
        |       (SELECT sum(n) AS t FROM (SELECT count(*)::DOUBLE AS n FROM lineitem
        |                                 WHERE l_orderkey % 2 = 0 GROUP BY l_returnflag)) bt,
        |       (SELECT sum(n) AS t FROM (SELECT count(*)::DOUBLE AS n FROM lineitem
        |                                 GROUP BY l_returnflag)) ot)
        |SELECT round((SELECT stat FROM ks), 6) AS ks_stat,
        |       round((SELECT v FROM crit), 6) AS ks_critical,
        |       (SELECT stat FROM ks) > (SELECT v FROM crit) AS ks_drifted,
        |       round((SELECT stat FROM chi), 6) AS chi_square""".stripMargin)),
  )
}
