package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HistogramAgg, Predicates}
import graft.model.{Requirement, Rule, RuleType}
import graft.operators._

import Fixtures._

/** Column profiling, predicate and key checks, and table statistics
  * (`Profile`, `Predicates`, `Uniqueness`, `Referential`, `Governance`, ...). */
object ProfileQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q_colstats_lineitem", ((s, d) =>
      Profile.exactNumericProfileDf(t(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("field")), Sql(
      """SELECT * FROM (
        |  SELECT 'l_quantity' AS field, count(l_quantity) AS cnt,
        |         min(l_quantity) AS min, max(l_quantity) AS max,
        |         round(avg(l_quantity), 4) AS avg FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(l_extendedprice),
        |         min(l_extendedprice), max(l_extendedprice),
        |         round(avg(l_extendedprice), 4) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(l_discount), min(l_discount),
        |         max(l_discount), round(avg(l_discount), 4) FROM lineitem
        |) ORDER BY field""".stripMargin)),

    QuerySpec("q_approx_profile", ((s, d) => {
      // scalar columns only — array columns are unhashable for the
      // driver's pandas-based row sort (round-1 red row)
      val li = t(s, d, "lineitem")
      li.agg(
          count(lit(1)).as("n_rows"),
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          percentile_approx(col("l_quantity"), array(lit(0.5), lit(0.99)), lit(2500))
            .as("qs"))
        .select(col("n_rows"), col("approx_orders"), col("approx_parts"),
          element_at(col("qs"), 1).as("p50"), element_at(col("qs"), 2).as("p99"))
    }), RowsOnly("HLL++ / t-digest sketch internals are engine-specific")),

    // exact companion of q_approx_profile: the SAME profile shape with
    // the sketches swapped for their exact kernels (count_distinct /
    // interpolated percentile) — SQL-oracle-able vs DuckDB, so the
    // profile CONTRACT carries a green row while the sketch variant
    // above stays the documented rows-only path (HLL/t-digest internals
    // are engine-specific)
    QuerySpec("q_profile_exact", ((s, d) => {
      // two count_distincts in ONE agg plan as Expand ×3 → a 170k-group
      // ObjectHashAggregate whose exchange drags the percentile buffers
      // along; three single-purpose subtrees (each a 2-stage aggregate
      // over its own pruned column) crossJoined as 1-row frames compute
      // the identical values with no Expand and 1-row exchanges
      val li = t(s, d, "lineitem")
      val a = li.agg(count(lit(1)).as("n_rows"),
        expr("percentile(CAST(l_quantity AS DOUBLE), array(0.5D, 0.99D))")
          .as("qs"))
      val b = li.agg(count_distinct(col("l_orderkey")).as("n_orders"))
      val c = li.agg(count_distinct(col("l_partkey")).as("n_parts"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
        .select(col("n_rows"), col("n_orders"), col("n_parts"),
          round(element_at(col("qs"), 1), 4).as("p50"),
          round(element_at(col("qs"), 2), 4).as("p99"))
    }), Sql(
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS p50,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.99), 4) AS p99
        |FROM lineitem""".stripMargin)),

    QuerySpec("q_enum_violations", ((s, d) => {
      val rule = Rule("orders", "o_orderpriority", RuleType.EnumT, Requirement.Required,
        validation = Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
      t(s, d, "orders")
        .where(Predicates.invalid(rule, col("o_orderpriority")))
        .groupBy(col("o_orderpriority").as("offending_value"))
        .agg(count(lit(1)).as("n_cells"))
        .orderBy("offending_value")
    }), Sql(
      """SELECT o_orderpriority AS offending_value, count(*) AS n_cells
        |FROM orders
        |WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_regex_check", ((s, d) => {
      val rule = Rule("part", "p_name", RuleType.RegexT, Requirement.Required,
        pattern = "(small|red|blue) \\w+")
      t(s, d, "part").agg(
        sum(when(Predicates.valid(rule, col("p_name")), 1L).otherwise(0L)).as("n_valid"),
        sum(when(Predicates.invalid(rule, col("p_name")), 1L).otherwise(0L)).as("n_invalid"))
    }), Sql(
      """SELECT
        |  sum(CASE WHEN regexp_full_match(p_name, '(small|red|blue) \w+')
        |      THEN 1 ELSE 0 END)::BIGINT AS n_valid,
        |  sum(CASE WHEN regexp_full_match(p_name, '(small|red|blue) \w+')
        |      THEN 0 ELSE 1 END)::BIGINT AS n_invalid
        |FROM part""".stripMargin)),

    QuerySpec("q_integer_check", ((s, d) => {
      val rule = Rule("events", "value", RuleType.IntegerT, Requirement.Required)
      t(s, d, "events")
        .select(col("value").cast("string").as("v"))
        .agg(
          sum(when(Predicates.valid(rule, col("v")), 1L).otherwise(0L)).as("n_intlike"),
          sum(when(Predicates.invalid(rule, col("v")), 1L).otherwise(0L)).as("n_frac"))
    }), Sql(
      """SELECT
        |  sum(CASE WHEN value = floor(value) THEN 1 ELSE 0 END)::BIGINT AS n_intlike,
        |  sum(CASE WHEN value = floor(value) THEN 0 ELSE 1 END)::BIGINT AS n_frac
        |FROM events""".stripMargin)),

    QuerySpec("q_multienum_check", ((s, d) => {
      Predicates.register(s)
      // synthesize a ';'-joined multi-value cell and validate it with the
      // multi-enum predicate (P11): every trimmed token must be in vocab
      val rule = Rule("documents", "dirty", RuleType.EnumT, Requirement.Required,
        validation = Seq("en", "es", "de", "fr", "zh",
          "src0", "src1", "src2", "src3", "src4"),
        allowMultiEnum = true)
      val docs = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, concat(col("lang"), lit(";"), col("source")))
          .otherwise(col("lang")).as("dirty"))
      docs.agg(
        sum(when(Predicates.valid(rule, col("dirty")), 1L).otherwise(0L)).as("n_valid"),
        sum(when(Predicates.invalid(rule, col("dirty")), 1L).otherwise(0L)).as("n_invalid"))
    }), Sql(
      """WITH d AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN lang || ';' || source
        |         ELSE lang END AS dirty
        |  FROM documents),
        |v AS (
        |  SELECT dirty,
        |    (dirty = 'NA') OR (
        |      len(list_filter(string_split(dirty, ';'), t -> trim(t) <> '')) > 0
        |      AND len(list_filter(string_split(dirty, ';'),
        |            t -> trim(t) <> ''
        |            AND trim(t) NOT IN ('en','es','de','fr','zh',
        |                 'src0','src1','src2','src3','src4'))) = 0
        |    ) AS ok
        |  FROM d)
        |SELECT sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_valid,
        |       sum(CASE WHEN ok THEN 0 ELSE 1 END)::BIGINT AS n_invalid
        |FROM v""".stripMargin)),

    QuerySpec("q_fill_missing", ((s, d) => {
      // fill-choice semantics (P7): blanks refill, textual 'NA' does not
      val docs = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0, lit(""))
          .when(col("doc_id") % 5 === 1, lit("NA"))
          .otherwise(col("lang")).as("dirty"))
      docs.select(graft.norm.Normalize.fillMissing(col("dirty"), "FILLED").as("v"))
        .groupBy("v").agg(count(lit(1)).as("n")).orderBy("v")
    }), Sql(
      """SELECT CASE
        |    WHEN doc_id % 5 = 0 THEN 'FILLED'
        |    WHEN doc_id % 5 = 1 THEN 'NA'
        |    ELSE lang END AS v,
        |  count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_window_topk", ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders").where(col("o_custkey") < 50)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total"))
        .orderBy("o_custkey", "rk")
    }), Sql(
      """SELECT o_custkey, rk, o_orderkey, total FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders WHERE o_custkey < 50)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),

    QuerySpec("q_null_normalize", ((s, d) => {
      // null-like normalization semantics over a synthesized dirty column
      val docs = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0, lit("  "))
          .when(col("doc_id") % 7 === 1, lit("N/A"))
          .when(col("doc_id") % 7 === 2, lit("nan"))
          .otherwise(col("lang")).as("dirty"))
      docs.select(graft.norm.Normalize.normalizeNullLike(col("dirty")).as("norm"))
        .groupBy("norm").agg(count(lit(1)).as("n"))
        .orderBy("norm")
    }), Sql(
      """SELECT CASE
        |    WHEN doc_id % 7 = 0 THEN 'NA'
        |    WHEN doc_id % 7 = 1 THEN 'NA'
        |    WHEN doc_id % 7 = 2 THEN 'NA'
        |    ELSE lang END AS norm,
        |  count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_unique_orderkey", ((s, d) => {
      val o = t(s, d, "orders")
      val dups = Uniqueness.duplicatesSimple(o, "o_orderkey")
      o.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct"))
        .crossJoin(dups.agg(count(lit(1)).as("n_dup_keys")))
    }), Sql(
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT o_orderkey) AS n_distinct,
        |       (SELECT count(*) FROM (
        |          SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1
        |       )) AS n_dup_keys
        |FROM orders""".stripMargin)),

    QuerySpec("q_dup_custkeys", ((s, d) =>
      Uniqueness.duplicates(t(s, d, "orders"), "o_custkey")
        .orderBy("o_custkey")), Sql(
      """SELECT o_custkey, count(*) AS n_occurrences
        |FROM orders GROUP BY 1 HAVING count(*) > 1 ORDER BY o_custkey""".stripMargin)),

    QuerySpec("q_referential_orphans", ((s, d) => {
      val allow = t(s, d, "nation").where(col("n_regionkey") === 0)
      Referential.orphans(t(s, d, "customer"), "c_nationkey", allow, "n_nationkey")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_orphans"))
        .orderBy("c_nationkey")
    }), Sql(
      """SELECT c_nationkey, count(*) AS n_orphans
        |FROM customer
        |WHERE c_nationkey NOT IN (
        |  SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_orphan_lineitems", ((s, d) =>
      Referential.orphans(t(s, d, "lineitem"), "l_orderkey", t(s, d, "orders"), "o_orderkey")
        .agg(count(lit(1)).as("n_orphans"))), Sql(
      """SELECT count(*) AS n_orphans FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)""".stripMargin)),

    QuerySpec("q_histogram_quantity", ((s, d) => {
      HistogramAgg.register(s)
      t(s, d, "lineitem")
        .agg(HistogramAgg.histogram(col("l_quantity"), 0.0, 50.0, 25).as("h"))
        .select(posexplode(col("h")).as(Seq("bin_idx", "n")))
        .where(col("n") > 0) // SQL GROUP BY only yields non-empty bins
        .orderBy("bin_idx")
    }), Sql(
      """SELECT bin_idx, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN l_quantity < 0 THEN 0
        |    WHEN l_quantity >= 50 THEN 26
        |    ELSE 1 + least(24, CAST(floor((l_quantity - 0) / 50.0 * 25) AS INT))
        |  END AS bin_idx FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // bivariate consistency outliers: OLS residuals of n_chars on the
    // whitespace token count — documents far off the corpus's
    // chars~tokens line (mis-tokenized / non-text) even when both
    // marginals look normal; one sufficient-stats pass, closed-form
    // slope broadcast into a stateless projection, TakeOrdered top-20
    QuerySpec("q_ols_residuals", ((s, d) =>
      Profile.olsResiduals(
        t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_words"),
          col("n_chars")),
        Seq("doc_id"), "n_words", "n_chars", k = 20)), Sql(
      """WITH d AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS n_words,
        |    n_chars
        |  FROM documents),
        |st AS (
        |  SELECT count(*) AS n, sum(n_words * 1.0) AS sx,
        |         sum(n_chars * 1.0) AS sy,
        |         sum(n_words * 1.0 * n_chars) AS sxy,
        |         sum(n_words * 1.0 * n_words) AS sxx
        |  FROM d WHERE n_words IS NOT NULL AND n_chars IS NOT NULL),
        |co AS (
        |  SELECT n, sx, sy,
        |    CASE WHEN n * sxx - sx * sx <= 0 THEN 0.0
        |         ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS b
        |  FROM st),
        |c2 AS (SELECT n, b, (sy - b * sx) / n AS a FROM co)
        |SELECT doc_id, n_words, n_chars,
        |  round(n_chars * 1.0 - (a + b * n_words), 6) AS residual,
        |  round(abs(n_chars * 1.0 - (a + b * n_words)), 6) AS abs_residual
        |FROM d, c2
        |ORDER BY abs_residual DESC, doc_id
        |LIMIT 20""".stripMargin)),

    // information-theoretic column association: MI + BOTH uncertainty
    // coefficients (Theil's U is asymmetric — "source determines lang
    // but not back" is a droppable-column finding); exact integer
    // counts, driver arithmetic in sorted key order
    QuerySpec("q_mutual_info", ((s, d) =>
      Profile.mutualInformation(t(s, d, "documents"), "lang", "source")), Sql(
      """WITH j AS (
        |  SELECT coalesce(lang, '<null>') AS x,
        |         coalesce(source, '<null>') AS y, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |n AS (SELECT sum(c)::DOUBLE AS n FROM j),
        |px AS (SELECT x, sum(c) AS cx FROM j GROUP BY 1),
        |py AS (SELECT y, sum(c) AS cy FROM j GROUP BY 1),
        |hx AS (SELECT sum(-(cx / n.n) * ln(cx / n.n)) AS h FROM px, n),
        |hy AS (SELECT sum(-(cy / n.n) * ln(cy / n.n)) AS h FROM py, n),
        |mi AS (SELECT sum((c / n.n)
        |         * ln((c / n.n) / ((cx / n.n) * (cy / n.n)))) AS mi
        |       FROM j JOIN px USING (x) JOIN py USING (y), n)
        |SELECT CAST((SELECT sum(c) FROM j) AS BIGINT) AS n,
        |  round(mi.mi, 6) AS mi, round(hx.h, 6) AS h_x,
        |  round(hy.h, 6) AS h_y,
        |  CASE WHEN hx.h > 0 THEN round(mi.mi / hx.h, 6) END
        |    AS u_x_given_y,
        |  CASE WHEN hy.h > 0 THEN round(mi.mi / hy.h, 6) END
        |    AS u_y_given_x
        |FROM mi, hx, hy""".stripMargin)),

    // capture-recapture corpus-size estimate (Chapman): two overlapping
    // snapshot key sets as two "captures" — what fraction of the
    // reachable corpus does the crawl actually cover; three narrow
    // distinct-key aggregates, payloads never move
    QuerySpec("q_capture_recapture", ((s, d) => {
      val docs = t(s, d, "documents")
      Profile.captureRecapture(
        docs.where(col("doc_id") % 3 =!= 0),
        docs.where(col("doc_id") % 5 =!= 0), "doc_id")
    }), Sql(
      """WITH a AS (SELECT DISTINCT doc_id FROM documents
        |           WHERE doc_id % 3 <> 0),
        |b AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 5 <> 0),
        |st AS (SELECT (SELECT count(*) FROM a) AS na,
        |              (SELECT count(*) FROM b) AS nb,
        |              (SELECT count(*) FROM a JOIN b USING (doc_id)) AS m)
        |SELECT na AS n_a, nb AS n_b, m AS n_overlap,
        |  round((na + 1.0::DOUBLE) * (nb + 1.0::DOUBLE)
        |        / (m + 1.0::DOUBLE) - 1.0::DOUBLE, 6) AS est_population,
        |  round(CASE WHEN ((na + 1.0::DOUBLE) * (nb + 1.0::DOUBLE)
        |                   / (m + 1.0::DOUBLE) - 1.0::DOUBLE) > 0
        |             THEN na / ((na + 1.0::DOUBLE) * (nb + 1.0::DOUBLE)
        |                        / (m + 1.0::DOUBLE) - 1.0::DOUBLE)
        |             ELSE 1.0::DOUBLE END, 6) AS coverage_a
        |FROM st""".stripMargin)),

    // co-missingness triage: which columns are NULL together (an
    // upstream join dropping fields on the same rows vs independent
    // holes) — nulls planted by deterministic doc_id/value arithmetic
    // since the synthetic tables ship without them; one pattern-keyed
    // aggregate, ≤ 2^k patterns reach the shuffle
    QuerySpec("q_missing_pattern", ((s, d) => {
      val docs = t(s, d, "documents").select(
        when(col("lang") === "zh", lit(null: String))
          .otherwise(col("lang")).as("lang"),
        when(col("source") === "src3", lit(null: String))
          .otherwise(col("source")).as("source"),
        when(col("doc_id") % 11 === 0, lit(null: java.lang.Long))
          .otherwise(col("n_chars")).as("n_chars"))
      Profile.missingnessPatterns(docs, Seq("lang", "source", "n_chars"))
    }), Sql(
      """WITH planted AS (
        |  SELECT CASE WHEN lang = 'zh' THEN NULL ELSE lang END AS lang,
        |         CASE WHEN source = 'src3' THEN NULL ELSE source END AS source,
        |         CASE WHEN doc_id % 11 = 0 THEN NULL ELSE n_chars END AS n_chars
        |  FROM documents),
        |pat AS (
        |  SELECT (CASE WHEN lang IS NULL THEN '1' ELSE '0' END
        |       || CASE WHEN source IS NULL THEN '1' ELSE '0' END
        |       || CASE WHEN n_chars IS NULL THEN '1' ELSE '0' END) AS pattern
        |  FROM planted),
        |cnt AS (SELECT pattern, count(*) AS n FROM pat GROUP BY 1),
        |tot AS (SELECT sum(n)::DOUBLE AS t FROM cnt)
        |SELECT pattern, n, round(n::DOUBLE / tot.t, 6) AS share
        |FROM cnt, tot ORDER BY n DESC, pattern""".stripMargin)),

    // per-column diversity: Shannon entropy / evenness / Simpson of the
    // categorical mix — catches mass collapsing to one value at
    // constant cardinality; O(categories) aggregates, rows seen once
    QuerySpec("q_entropy_profile", ((s, d) =>
      Profile.entropyProfile(t(s, d, "documents"), Seq("lang", "source"))), Sql(
      """WITH c1 AS (SELECT coalesce(lang, '<null>') AS k, count(*) AS n
        |            FROM documents GROUP BY 1),
        |c2 AS (SELECT coalesce(source, '<null>') AS k, count(*) AS n
        |       FROM documents GROUP BY 1),
        |e1 AS (
        |  SELECT 'lang' AS "column", CAST(sum(n) AS BIGINT) AS n,
        |         count(*) AS n_distinct,
        |         sum(n::DOUBLE * ln(n::DOUBLE)) AS nln,
        |         sum(n::DOUBLE * n::DOUBLE) AS n2
        |  FROM c1),
        |e2 AS (
        |  SELECT 'source' AS "column", CAST(sum(n) AS BIGINT) AS n,
        |         count(*) AS n_distinct,
        |         sum(n::DOUBLE * ln(n::DOUBLE)) AS nln,
        |         sum(n::DOUBLE * n::DOUBLE) AS n2
        |  FROM c2),
        |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
        |SELECT "column", n, n_distinct,
        |  round(ln(n::DOUBLE) - nln / n::DOUBLE, 6) AS entropy,
        |  CASE WHEN n_distinct > 1
        |       THEN round((ln(n::DOUBLE) - nln / n::DOUBLE)
        |                  / ln(n_distinct::DOUBLE), 6) END AS evenness,
        |  round(1.0 - n2 / (n::DOUBLE * n::DOUBLE), 6) AS simpson
        |FROM u ORDER BY "column"""".stripMargin)),

    // HBOS outlier score (Goldstein & Dengel 2012) over three lineitem
    // numerics: equi-width histograms from one fused min/max pass,
    // per-row Σ ln(n / binCount) in declared column order (bit-stable
    // doubles), top-20 sparse-bin rows — the linear-time unsupervised
    // outlier baseline; corpus never shuffles (broadcast occupancy)
    QuerySpec("q_hbos", ((s, d) =>
      Profile.hbos(t(s, d, "lineitem"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        bins = 10, k = 20)), Sql(
      """WITH st AS (
        |  SELECT min(l_quantity * 1.0) AS q0, max(l_quantity * 1.0) AS q1,
        |         min(l_extendedprice * 1.0) AS e0,
        |         max(l_extendedprice * 1.0) AS e1,
        |         min(l_discount * 1.0) AS d0, max(l_discount * 1.0) AS d1,
        |         count(l_quantity) AS nq, count(l_extendedprice) AS ne,
        |         count(l_discount) AS nd
        |  FROM lineitem),
        |b AS (
        |  SELECT l_orderkey, l_linenumber, nq, ne, nd,
        |    CASE WHEN l_quantity IS NULL THEN NULL WHEN q1 <= q0 THEN 0
        |         ELSE least(floor((l_quantity * 1.0 - q0)
        |                          / ((q1 - q0) / 10)), 9) END AS bq,
        |    CASE WHEN l_extendedprice IS NULL THEN NULL WHEN e1 <= e0 THEN 0
        |         ELSE least(floor((l_extendedprice * 1.0 - e0)
        |                          / ((e1 - e0) / 10)), 9) END AS be,
        |    CASE WHEN l_discount IS NULL THEN NULL WHEN d1 <= d0 THEN 0
        |         ELSE least(floor((l_discount * 1.0 - d0)
        |                          / ((d1 - d0) / 10)), 9) END AS bd
        |  FROM lineitem, st),
        |cq AS (SELECT bq AS bin, count(*) AS c FROM b
        |       WHERE bq IS NOT NULL GROUP BY 1),
        |ce AS (SELECT be AS bin, count(*) AS c FROM b
        |       WHERE be IS NOT NULL GROUP BY 1),
        |cd AS (SELECT bd AS bin, count(*) AS c FROM b
        |       WHERE bd IS NOT NULL GROUP BY 1)
        |SELECT l_orderkey, l_linenumber,
        |  round(coalesce(ln(nq * 1.0 / cq.c), 0)
        |        + coalesce(ln(ne * 1.0 / ce.c), 0)
        |        + coalesce(ln(nd * 1.0 / cd.c), 0), 6) AS hbos
        |FROM b LEFT JOIN cq ON cq.bin = b.bq
        |       LEFT JOIN ce ON ce.bin = b.be
        |       LEFT JOIN cd ON cd.bin = b.bd
        |ORDER BY hbos DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin)),

    // KMV bottom-k distinct sketch vs the exact count — the mergeable
    // set-size estimator with its error surfaced; overflow-safe Knuth
    // hash so the SQL replica is exact
    QuerySpec("q_kmv_distinct", ((s, d) =>
      Profile.kmvDistinct(t(s, d, "lineitem"), "l_partkey", 64)), Sql(
      """WITH h AS (
        |  SELECT DISTINCT ((((l_partkey % 4294967296) * 40503) % 4294967296)
        |           * 65536 + (l_partkey % 4294967296) * 31153)
        |          % 4294967296 AS h
        |  FROM lineitem WHERE l_partkey IS NOT NULL),
        |b AS (SELECT h FROM h ORDER BY h LIMIT 64),
        |kth AS (SELECT max(h) AS kh FROM b),
        |ex AS (SELECT count(*) AS exact FROM h)
        |SELECT 64 AS k, kth.kh AS kth_hash,
        |  round(63.0 * 4294967296.0 / kth.kh, 6) AS est_distinct,
        |  ex.exact AS exact_distinct,
        |  round(abs(63.0 * 4294967296.0 / kth.kh - ex.exact::DOUBLE)
        |        / ex.exact::DOUBLE, 6) AS rel_error
        |FROM kth, ex""".stripMargin)),

    // redundant-signal detector: pairwise Pearson matrix over the four
    // lineitem numerics from ONE sufficient-stats aggregate
    QuerySpec("q_corr_matrix", ((s, d) =>
      Profile.corrMatrix(t(s, d, "lineitem"),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))), Sql({
      val pairs = Seq(
        ("l_discount", "l_extendedprice"), ("l_discount", "l_quantity"),
        ("l_discount", "l_tax"), ("l_extendedprice", "l_quantity"),
        ("l_extendedprice", "l_tax"), ("l_quantity", "l_tax"))
      pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, count(*) AS n,
           |  round((count(*) * sum($a * $b) - sum($a) * sum($b))
           |    / (sqrt(count(*) * sum($a * $a) - sum($a) * sum($a))
           |     * sqrt(count(*) * sum($b * $b) - sum($b) * sum($b))), 6)
           |    AS pearson_r
           |FROM lineitem
           |WHERE $a IS NOT NULL AND $b IS NOT NULL""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    })),

    // multi-format timestamp ingestion QC: strings synthesized from ts
    // in three formats (+ one malformed slice), re-parsed by the
    // ordered try_to_timestamp chain, tallied per winning format
    QuerySpec("q_date_parse", ((s, d) => {
      val raw = when(col("event_id") % 4 === 0,
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .when(col("event_id") % 4 === 1,
          date_format(col("ts"), "yyyy/MM/dd HH:mm:ss"))
        .when(col("event_id") % 4 === 2,
          date_format(col("ts"), "MM-dd-yyyy HH:mm:ss"))
        .otherwise(lit("not a timestamp"))
      val withRaw = t(s, d, "events").select(col("event_id"), raw.as("raw_ts"))
      graft.norm.Normalize.parseTimestamps(withRaw, "raw_ts",
          Seq("yyyy-MM-dd HH:mm:ss", "yyyy/MM/dd HH:mm:ss",
            "MM-dd-yyyy HH:mm:ss"))
        .groupBy(col("parsed_format").as("fmt"))
        .agg(count(lit(1)).as("n"), min(col("parsed")).as("min_parsed"),
          max(col("parsed")).as("max_parsed"))
        .orderBy("fmt")
    }), Sql(
      """WITH raw AS (
        |  SELECT CASE
        |    WHEN event_id % 4 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
        |    WHEN event_id % 4 = 1 THEN strftime(ts, '%Y/%m/%d %H:%M:%S')
        |    WHEN event_id % 4 = 2 THEN strftime(ts, '%m-%d-%Y %H:%M:%S')
        |    ELSE 'not a timestamp' END AS raw_ts
        |  FROM events),
        |p AS (
        |  SELECT
        |    coalesce(try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S'),
        |             try_strptime(raw_ts, '%Y/%m/%d %H:%M:%S'),
        |             try_strptime(raw_ts, '%m-%d-%Y %H:%M:%S')) AS parsed,
        |    CASE
        |      WHEN try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S') IS NOT NULL
        |        THEN 'yyyy-MM-dd HH:mm:ss'
        |      WHEN try_strptime(raw_ts, '%Y/%m/%d %H:%M:%S') IS NOT NULL
        |        THEN 'yyyy/MM/dd HH:mm:ss'
        |      WHEN try_strptime(raw_ts, '%m-%d-%Y %H:%M:%S') IS NOT NULL
        |        THEN 'MM-dd-yyyy HH:mm:ss'
        |      WHEN raw_ts IS NULL THEN '<null>'
        |      ELSE '<unparsed>' END AS fmt
        |  FROM raw)
        |SELECT fmt, count(*) AS n, min(parsed) AS min_parsed,
        |       max(parsed) AS max_parsed
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // retrieval eval, first-hit regime: MRR@10 per source over a
    // length ranking with planted relevance (doc_id % 17) — the
    // dedup-candidate-lookup metric NDCG's graded gain obscures
    QuerySpec("q_mrr", ((s, d) =>
      Profile.mrrAtK(
        t(s, d, "documents").withColumn("rel", col("doc_id") % 17 === 0),
        "source", "doc_id", "n_chars", "rel", k = 10)), Sql(
      """WITH r AS (
        |  SELECT source, (doc_id % 17 = 0) AS rel,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |    max(CASE WHEN rel AND rk <= 10 THEN 1.0::DOUBLE / rk END) AS rr
        |  FROM r GROUP BY 1)
        |SELECT count(*) AS n_groups,
        |       round(avg(coalesce(rr, 0.0)), 6) AS mrr FROM g""".stripMargin)),

    // retrieval eval, coverage regime: precision/recall@10 per source
    // under the same planted relevance and total-order ranking
    QuerySpec("q_precision_at_k", ((s, d) =>
      Profile.precisionRecallAtK(
        t(s, d, "documents").withColumn("rel", col("doc_id") % 17 === 0),
        "source", "doc_id", "n_chars", "rel", k = 10)), Sql(
      """WITH r AS (
        |  SELECT source, (doc_id % 17 = 0) AS rel,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
        |    CAST(sum(CASE WHEN rel AND rk <= 10 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS hits
        |  FROM r GROUP BY 1)
        |SELECT source, n_rel, hits,
        |  round(hits::DOUBLE / 10, 6) AS precision_at_k,
        |  CASE WHEN n_rel > 0
        |       THEN round(hits::DOUBLE / n_rel::DOUBLE, 6) END AS recall_at_k
        |FROM g ORDER BY source""".stripMargin)),

    // heuristic-gate acceptance: confusion matrix + derived metrics of
    // a cheap length gate vs a planted noisy truth label — ONE
    // aggregate, NULL-denominator metrics stay NULL
    QuerySpec("q_confusion_gate", ((s, d) =>
      Profile.confusionStats(
        t(s, d, "documents")
          .withColumn("pred", col("n_chars") >= 300)
          .withColumn("label", col("n_chars") + col("doc_id") % 97 >= 320),
        "pred", "label")), Sql(
      """WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN p AND l THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN p AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT p AND l THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT p AND NOT l THEN 1 ELSE 0 END)
        |         AS BIGINT) AS tn,
        |    CAST(sum(CASE WHEN p IS NULL OR l IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_null
        |  FROM (SELECT n_chars >= 300 AS p,
        |               n_chars + doc_id % 97 >= 320 AS l
        |        FROM documents)),
        |m AS (
        |  SELECT *,
        |    CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END AS pr,
        |    CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END AS rc
        |  FROM c)
        |SELECT tp, fp, fn, tn, n_null,
        |  round((tp + tn)::DOUBLE / (tp + fp + fn + tn), 6) AS accuracy,
        |  round(pr, 6) AS precision, round(rc, 6) AS recall,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tp > 0
        |       THEN round(2.0 * pr * rc / (pr + rc), 6) END AS f1
        |FROM m""".stripMargin)),

    // association rules lang → source: support / confidence / lift
    // from one pair-count aggregate with re-aggregated margins — the
    // "real pairing or two big marginals" read over q_rule_cooccur's
    // raw counts
    QuerySpec("q_assoc_rules", ((s, d) =>
      Profile.associationRules(t(s, d, "documents"), "lang", "source",
        minSupport = 0.004)), Sql(
      """WITH pairs AS (
        |  SELECT coalesce(lang, '<null>') AS a,
        |         coalesce(source, '<null>') AS b,
        |         count(*) AS n_ab
        |  FROM documents GROUP BY 1, 2),
        |na AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM pairs GROUP BY 1),
        |nb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM pairs GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM pairs)
        |SELECT pairs.a, pairs.b, pairs.n_ab,
        |  round(pairs.n_ab::DOUBLE / tot.n::DOUBLE, 6) AS support,
        |  round(pairs.n_ab::DOUBLE / na.n_a::DOUBLE, 6) AS confidence,
        |  round(pairs.n_ab::DOUBLE * tot.n::DOUBLE
        |        / (na.n_a::DOUBLE * nb.n_b::DOUBLE), 6) AS lift
        |FROM pairs JOIN na USING (a) JOIN nb USING (b), tot
        |WHERE round(pairs.n_ab::DOUBLE / tot.n::DOUBLE, 6) >= 0.004
        |ORDER BY a, b""".stripMargin)),

    // schema drift between two feed snapshots: url added, source
    // removed, n_chars bigint→double (%7 rows gain a '.5'), lang nulls
    // appear (%11) → null_shift, id stays — the upstream-contract diff
    // over string-typed feeds, one fused regex-profile aggregate/side
    QuerySpec("q_schema_drift", ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.select(
        col("doc_id").cast("string").as("id"), col("lang"), col("source"),
        col("n_chars").cast("string").as("n_chars"))
      val newSnap = docs.where(col("doc_id") % 3 =!= 0).select(
        col("doc_id").cast("string").as("id"),
        when(col("doc_id") % 11 === 0, lit(null: String))
          .otherwise(col("lang")).as("lang"),
        when(col("doc_id") % 7 === 0,
            concat(col("n_chars").cast("string"), lit(".5")))
          .otherwise(col("n_chars").cast("string")).as("n_chars"),
        concat(lit("https://"), col("source"), lit(".example.com"))
          .as("url"))
      Profile.schemaDrift(oldSnap, newSnap)
    }), Sql(
      """WITH o AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id, lang, source,
        |         CAST(n_chars AS VARCHAR) AS n_chars
        |  FROM documents),
        |n AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang,
        |    CASE WHEN doc_id % 7 = 0 THEN CAST(n_chars AS VARCHAR) || '.5'
        |         ELSE CAST(n_chars AS VARCHAR) END AS n_chars,
        |    'https://' || source || '.example.com' AS url
        |  FROM documents WHERE doc_id % 3 <> 0),
        |ocols AS (
        |  SELECT 'id' AS c, id AS v FROM o UNION ALL
        |  SELECT 'lang', lang FROM o UNION ALL
        |  SELECT 'source', source FROM o UNION ALL
        |  SELECT 'n_chars', n_chars FROM o),
        |ncols AS (
        |  SELECT 'id' AS c, id AS v FROM n UNION ALL
        |  SELECT 'lang', lang FROM n UNION ALL
        |  SELECT 'n_chars', n_chars FROM n UNION ALL
        |  SELECT 'url', url FROM n),
        |oprof AS (
        |  SELECT c, count(*) AS n_rows,
        |    sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null,
        |    sum(CASE WHEN regexp_matches(v, '^[+-]?[0-9]+$')
        |        THEN 1 ELSE 0 END) AS n_int,
        |    sum(CASE WHEN regexp_matches(v,
        |        '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$')
        |        THEN 1 ELSE 0 END) AS n_dbl,
        |    sum(CASE WHEN regexp_matches(v, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
        |          AND try_cast(v AS DATE) IS NOT NULL
        |        THEN 1 ELSE 0 END) AS n_date,
        |    sum(CASE WHEN lower(v) IN ('true', 'false')
        |        THEN 1 ELSE 0 END) AS n_bool
        |  FROM ocols GROUP BY 1),
        |nprof AS (
        |  SELECT c, count(*) AS n_rows,
        |    sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null,
        |    sum(CASE WHEN regexp_matches(v, '^[+-]?[0-9]+$')
        |        THEN 1 ELSE 0 END) AS n_int,
        |    sum(CASE WHEN regexp_matches(v,
        |        '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$')
        |        THEN 1 ELSE 0 END) AS n_dbl,
        |    sum(CASE WHEN regexp_matches(v, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
        |          AND try_cast(v AS DATE) IS NOT NULL
        |        THEN 1 ELSE 0 END) AS n_date,
        |    sum(CASE WHEN lower(v) IN ('true', 'false')
        |        THEN 1 ELSE 0 END) AS n_bool
        |  FROM ncols GROUP BY 1),
        |os AS (
        |  SELECT c,
        |    CASE WHEN n_rows - n_null = 0 THEN 'empty'
        |         WHEN n_int = n_rows - n_null THEN 'bigint'
        |         WHEN n_dbl = n_rows - n_null THEN 'double'
        |         WHEN n_date = n_rows - n_null THEN 'date'
        |         WHEN n_bool = n_rows - n_null THEN 'boolean'
        |         ELSE 'string' END AS old_type,
        |    round(n_null::DOUBLE / greatest(n_rows, 1)::DOUBLE, 6)
        |      AS old_null_rate
        |  FROM oprof),
        |ns AS (
        |  SELECT c,
        |    CASE WHEN n_rows - n_null = 0 THEN 'empty'
        |         WHEN n_int = n_rows - n_null THEN 'bigint'
        |         WHEN n_dbl = n_rows - n_null THEN 'double'
        |         WHEN n_date = n_rows - n_null THEN 'date'
        |         WHEN n_bool = n_rows - n_null THEN 'boolean'
        |         ELSE 'string' END AS new_type,
        |    round(n_null::DOUBLE / greatest(n_rows, 1)::DOUBLE, 6)
        |      AS new_null_rate
        |  FROM nprof)
        |SELECT coalesce(os.c, ns.c) AS "column",
        |  CASE WHEN old_type IS NULL THEN 'added'
        |       WHEN new_type IS NULL THEN 'removed'
        |       WHEN old_type <> new_type THEN 'type_changed'
        |       WHEN abs(new_null_rate - old_null_rate) > 0.05
        |         THEN 'null_shift'
        |       ELSE 'unchanged' END AS status,
        |  old_type, new_type, old_null_rate, new_null_rate
        |FROM os FULL JOIN ns ON os.c = ns.c
        |ORDER BY 1""".stripMargin)),

    // online Poisson bootstrap of mean(n_chars): 32 deterministic
    // hash-weighted replicates in ONE pass (the 10^12-row CI machinery
    // — classic index-resampling is undistributable); hashKey=false is
    // the overflow-safe multiplicative draw the SQL oracle replays on
    // the same integer lattice
    QuerySpec("q_bootstrap_ci", ((s, d) =>
      Profile.bootstrapMeans(t(s, d, "documents"), "doc_id", "n_chars",
        nBoot = 32, seed = 7L, hashKey = false)), Sql(
      """WITH f AS (
        |  SELECT b, n_chars::DOUBLE AS x,
        |    ((doc_id % 2147483648) * 4096 + b + 7 * 81) % 4294967296 AS k0
        |  FROM documents, (SELECT unnest(range(0, 32)) AS b)
        |  WHERE n_chars IS NOT NULL),
        |h1 AS (SELECT b, x,
        |  (xor(k0, k0 >> 16) * 569557677) % 4294967296 AS ha FROM f),
        |h2 AS (SELECT b, x,
        |  (xor(ha, ha >> 15) * 1935933847) % 4294967296 AS hb FROM h1),
        |hh AS (SELECT b, x, xor(hb, hb >> 15) AS u FROM h2),
        |w AS (SELECT b, x,
        |  CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
        |       WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
        |       WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
        |       WHEN u < 4294609777 THEN 6 WHEN u < 4294923276 THEN 7
        |       WHEN u < 4294962463 THEN 8 ELSE 9 END AS w
        |  FROM hh)
        |SELECT CAST(b AS INTEGER) AS b, CAST(sum(w) AS BIGINT) AS n_eff,
        |  round(sum(w * x) / sum(w), 6) AS boot_mean
        |FROM w GROUP BY b ORDER BY b""".stripMargin)),

    // heavy hitters via the DataSketches frequent-items aggregate
    // (approx_top_k): sketch-merged two-level, O(partitions × capacity)
    // shuffle — counts exact while distinct ≤ capacity, so the exact
    // GROUP BY oracle must match
    QuerySpec("q_heavy_hitters", ((s, d) =>
      Profile.heavyHitters(t(s, d, "events"), "event_type", k = 3)), Sql(
      """SELECT event_type AS item, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY n DESC, item LIMIT 3""".stripMargin)),

    // exact order statistics WITHOUT a global sort: radix select — ≤8
    // counting passes, each one map-side-combined 256-bucket histogram
    // of the next byte, O(1) driver state. The exact companion to
    // approx_percentile where a bit-exact median/kth is contractually
    // required (billing, SLA percentiles) and a 10^12-row range
    // exchange is not an option; DuckDB's median replays it bit-exactly
    QuerySpec("q_exact_median", ((s, d) => {
      val v = t(s, d, "lineitem")
        .select(((col("l_orderkey") * 37) % 1001 - 500).cast("long").as("v"))
      // fused (n, med, min, max): one bounds aggregate + one bounded-
      // span histogram — the three-call spelling paid the bounds
      // aggregate 3× and, because this domain straddles the sign byte
      // (no byte-skip), ~8 full counting passes per order statistic
      val (n, med, mn, mx) = Profile.exactOrderStatsLong(v, "v")
      import s.implicits._
      Seq((n, med.getOrElse(0.0), mn.getOrElse(0L), mx.getOrElse(0L)))
        .toDF("n", "med", "min_v", "max_v")
    }), Sql(
      """WITH v AS (SELECT (l_orderkey * 37) % 1001 - 500 AS v FROM lineitem)
        |SELECT count(*) AS n, CAST(median(v) AS DOUBLE) AS med,
        |       min(v) AS min_v, max(v) AS max_v FROM v""".stripMargin)),

    // per-source z-score normalization from integer-exact sufficient
    // statistics (n, Σx, Σx²) — identical expression order in the
    // oracle makes the doubles bit-equal
    QuerySpec("q_group_zscore", ((s, d) =>
      Profile.groupZScores(t(s, d, "documents"), "n_chars", "source")
        .select(col("doc_id"), col("source"), round(col("z"), 6).as("z"))
        .orderBy("doc_id")), Sql(
      """WITH st AS (
        |  SELECT source, count(n_chars) AS n, sum(n_chars) AS s,
        |         sum(n_chars * n_chars) AS ss
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, d.source,
        |  round(CASE
        |    WHEN n_chars IS NULL THEN NULL
        |    WHEN (ss * 1.0 / n - (s * 1.0 / n) * (s * 1.0 / n)) <= 0 THEN 0
        |    ELSE (n_chars - s * 1.0 / n)
        |         / sqrt(ss * 1.0 / n - (s * 1.0 / n) * (s * 1.0 / n))
        |  END, 6) AS z
        |FROM documents d
        |LEFT JOIN st ON d.source IS NOT DISTINCT FROM st.source
        |ORDER BY doc_id""".stripMargin)),

    // key-skew diagnostics on the orders join key: hot-key share, HHI
    // concentration, entropy — the "measure before you shuffle" op
    // key-skew diagnostics: per-key counts then one global fold; the
    // hot-key tie (uniform keys!) breaks on (count, key-string) in both
    // engines
    QuerySpec("q_key_skew", ((s, d) =>
      Profile.keySkew(t(s, d, "orders"), "o_custkey")), Sql(
      """WITH pk AS (
        |  SELECT coalesce(CAST(o_custkey AS VARCHAR), '<null>') AS k,
        |         count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |       count(*) AS n_keys,
        |       (SELECT k FROM pk ORDER BY n DESC, k DESC LIMIT 1)
        |         AS max_key,
        |       CAST(max(n) AS BIGINT) AS max_count,
        |       round(CAST(max(n) AS DOUBLE)/sum(n), 6) AS max_share,
        |       round(sum(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))
        |         / (CAST(sum(n) AS DOUBLE)*CAST(sum(n) AS DOUBLE)), 6)
        |         AS hhi,
        |       round(ln(CAST(sum(n) AS DOUBLE))
        |         - sum(CAST(n AS DOUBLE)*ln(CAST(n AS DOUBLE)))
        |           / CAST(sum(n) AS DOUBLE), 6) AS entropy
        |FROM pk""".stripMargin)),

    // per-source data card: the composition rollup a corpus release
    // publishes, in one grouped aggregate
    // data card: same canonical word split, fractions from integer
    // counts in the same expression order
    QuerySpec("q_data_card", ((s, d) =>
      Profile.dataCard(t(s, d, "documents"), "source", "text", "lang")), Sql(
      """WITH d AS (SELECT source, lang,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS nt
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(nt) AS DOUBLE) / count(*), 6) AS avg_tokens,
        |  round(CAST(sum(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS short_frac,
        |  CAST(sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // exact per-source length percentiles at dyadic probabilities —
    // interpolation is exactly representable in both engines
    // dyadic-probability exact percentiles: idx = p·(n−1) linear
    // interpolation on integer inputs — bit-identical in both engines
    QuerySpec("q_len_percentiles", ((s, d) =>
      Profile.groupPercentiles(t(s, d, "documents"), "source", "n_chars")), Sql(
      """SELECT source,
        |       quantile_cont(n_chars, 0.25) AS p25,
        |       quantile_cont(n_chars, 0.5)  AS p50,
        |       quantile_cont(n_chars, 0.75) AS p75
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Gini concentration of per-source token mass — corpus balance
    // Gini over ascending (mass, source)-ranked sums — same rank order,
    // same integer sums, same expression order into the 6dp round;
    // all-NULL-mass groups dropped on both sides (NULL rank order
    // differs between engines)
    QuerySpec("q_token_gini", ((s, d) =>
      Profile.giniConcentration(t(s, d, "documents"), "source",
        size(TextAnalysis.words(col("text"))).cast("long"))), Sql(
      """WITH m AS (
        |  SELECT source AS g,
        |    CAST(sum(len(list_filter(string_split_regex(lower(trim(text)),
        |      '\s+'), x -> x <> ''))) AS BIGINT) AS m
        |  FROM documents GROUP BY 1
        |  HAVING m IS NOT NULL),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY m, g) AS BIGINT) AS i,
        |             m FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(m) AS BIGINT) AS total_weight,
        |       round(2.0 * CAST(sum(i * m) AS DOUBLE)
        |               / (count(*) * CAST(sum(m) AS BIGINT))
        |             - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini
        |FROM r""".stripMargin)),

    // rolling 7-day distinct users from MERGEABLE per-day HLL sketches
    // (hll_union_agg over a gap-correct RANGE window on the day
    // number) — N-day distincts from stored kilobyte sketches, no
    // corpus rescan; DataSketches HLL is exact in coupon mode, which
    // the exact-distinct oracle exploits at test scale
    QuerySpec("q_rolling_distinct", ((s, d) =>
      Profile.rollingDistinct(t(s, d, "events"), "ts", "user_id",
          windowDays = 7)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day")), Sql(
      """WITH d AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |daily AS (SELECT day, count(*) AS n_events,
        |                 count(DISTINCT user_id) AS day_distinct
        |          FROM d GROUP BY 1),
        |r AS (SELECT a.day, count(DISTINCT b.user_id) AS rolling_distinct
        |      FROM (SELECT DISTINCT day FROM d) a
        |      JOIN d b ON b.day BETWEEN a.day - 6 AND a.day
        |      GROUP BY 1)
        |SELECT strftime(daily.day, '%Y-%m-%d') AS day, daily.n_events,
        |       daily.day_distinct, r.rolling_distinct
        |FROM daily JOIN r USING (day) ORDER BY day""".stripMargin)),

    // pairwise audience overlap from the per-group HLL sketches:
    // inclusion-exclusion |A|+|B|-|A union B| on kilobyte sketches —
    // the shared-users matrix without O(pairs) intersection scans;
    // coupon-mode exactness drives the exact oracle at test scale
    QuerySpec("q_audience_overlap", ((s, d) =>
      Profile.sketchOverlap(t(s, d, "events"), "event_type", "user_id")), Sql(
      """WITH base AS (
        |  SELECT DISTINCT event_type AS g, user_id AS k FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |d AS (SELECT g, count(*) AS nd FROM base GROUP BY 1),
        |pairs AS (SELECT a.g AS ga, b.g AS gb FROM d a
        |          JOIN d b ON a.g < b.g),
        |ov AS (SELECT p.ga, p.gb, count(*) AS ovl
        |       FROM pairs p JOIN base x ON x.g = p.ga
        |       JOIN base y ON y.g = p.gb AND y.k = x.k
        |       GROUP BY 1, 2)
        |SELECT p.ga AS group_a, p.gb AS group_b, da.nd AS distinct_a,
        |  db.nd AS distinct_b,
        |  da.nd + db.nd - coalesce(ov.ovl, 0) AS distinct_union,
        |  coalesce(ov.ovl, 0) AS est_overlap,
        |  round(coalesce(ov.ovl, 0)::DOUBLE
        |        / (da.nd + db.nd - coalesce(ov.ovl, 0)), 6) AS jaccard
        |FROM pairs p JOIN d da ON da.g = p.ga JOIN d db ON db.g = p.gb
        |LEFT JOIN ov ON ov.ga = p.ga AND ov.gb = p.gb
        |ORDER BY group_a, group_b""".stripMargin)),

    // salted skew join vs the plain-join oracle: the hot-key mitigation
    // must be RESULT-INVISIBLE — same rows, same aggregates
    // the salted join must be invisible in the result: plain join oracle
    QuerySpec("q_skew_join", ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val ord = t(s, d, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      graft.operators.SkewJoin.saltedEquiJoin(li, ord, "okey", saltFactor = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("double").as("sum_qty"))
        .orderBy("o_orderstatus")
    }), Sql(
      """SELECT o.o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(l.l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // robust median/MAD outlier fence on l_extendedprice: the fence is
    // estimated on a deterministic 10% sample (the at-scale pattern —
    // exact order statistics over a pinned subset), outliers counted on
    // every row; approx_percentile is the sketch alternative
    QuerySpec("q_outliers_price", ((s, d) =>
      Profile.robustOutliers(t(s, d, "lineitem"), "l_extendedprice", k = 3.5,
        sampleFilter = Some(col("l_orderkey") % 10 === 0))), Sql(
      """WITH est AS (SELECT l_extendedprice FROM lineitem WHERE l_orderkey % 10 = 0),
        |m AS (SELECT median(l_extendedprice) AS m FROM est),
        |md AS (SELECT median(abs(l_extendedprice - m.m)) AS mad
        |       FROM est, m),
        |b AS (SELECT m.m AS m, md.mad AS mad,
        |             m.m - 3.5 * 1.4826 * md.mad AS lo,
        |             m.m + 3.5 * 1.4826 * md.mad AS hi FROM m, md)
        |SELECT 'l_extendedprice' AS field, round(m, 4) AS median,
        |  round(mad, 4) AS mad, round(lo, 4) AS lo, round(hi, 4) AS hi,
        |  (SELECT count(*) FROM lineitem, b
        |   WHERE l_extendedprice < b.lo OR l_extendedprice > b.hi) AS n_outliers,
        |  (SELECT count(l_extendedprice) FROM lineitem) AS n_rows
        |FROM b""".stripMargin)),

    // snapshot diff: per-key added/removed/changed/unchanged between two
    // derived snapshots (old = id%3≠0 with id%7==0 texts mutated; new =
    // id%5≠0) — the incremental-crawl refresh classifier; narrow
    // (key, xxhash64) full-outer join vs a direct-equality SQL oracle.
    // The mutated set (%7) intersects BOTH snapshots (e.g. id=7: %3≠0,
    // %5≠0) so all four statuses — including 'changed' — are exercised
    // end-to-end (a %10 mutation set was a subset of the new-snapshot
    // exclusion %5, leaving 'changed' untested against the oracle).
    QuerySpec("q_snapshot_diff", ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val newSnap = docs.where(col("doc_id") % 5 =!= 0)
        .select("doc_id", "text")
      SnapshotDiff.diff(oldSnap, newSnap, "doc_id", Seq("text"))
        .orderBy("doc_id")
    }), Sql(
      """WITH old AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |           AS text
        |  FROM documents WHERE doc_id % 3 <> 0),
        |nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(nw.doc_id, old.doc_id) AS doc_id,
        |       CASE WHEN old.doc_id IS NULL THEN 'added'
        |            WHEN nw.doc_id IS NULL THEN 'removed'
        |            WHEN old.text = nw.text THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM old FULL JOIN nw ON old.doc_id = nw.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // column-level change attribution: for every changed key, WHICH
    // columns differ and how (old/new as strings, null-safe so a
    // value<->NULL transition attributes) — payloads semi-joined down
    // to changed keys BEFORE the wide join; fixture mutates text on
    // %7 keys and nulls lang on %11 keys so both columns attribute
    QuerySpec("q_diff_columns", ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 11 === 0, lit(null: String))
            .otherwise(col("lang")).as("lang"))
      val newSnap = docs.where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text"), col("lang"))
      SnapshotDiff.changedColumns(oldSnap, newSnap, "doc_id",
          Seq("text", "lang"))
        .orderBy("doc_id", "column")
    }), Sql(
      """WITH oldsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |      AS text,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang
        |  FROM documents WHERE doc_id % 3 <> 0),
        |newsnap AS (SELECT doc_id, text, lang FROM documents
        |            WHERE doc_id % 5 <> 0),
        |j AS (SELECT o.doc_id, o.text AS ot, n.text AS nt,
        |             o.lang AS ol, n.lang AS nl
        |      FROM oldsnap o JOIN newsnap n USING (doc_id))
        |SELECT doc_id, 'text' AS "column", ot AS old_value,
        |       nt AS new_value
        |FROM j WHERE ot IS DISTINCT FROM nt
        |UNION ALL
        |SELECT doc_id, 'lang', ol, nl FROM j WHERE ol IS DISTINCT FROM nl
        |ORDER BY doc_id, "column"""".stripMargin)),

    // per-source robust fences: each source judged against ITS OWN
    // median +- 3.5*1.4826*MAD (a shifted-but-healthy source is not an
    // outlier factory); three grouped aggregates, medians re-attached
    // by broadcast, exact-median oracle mode
    QuerySpec("q_group_fence", ((s, d) =>
      Profile.groupRobustFence(t(s, d, "documents"), "source", "n_chars",
        k = 3.5, exact = true)), Sql(
      """WITH m AS (SELECT source AS g, median(n_chars) AS med
        |           FROM documents GROUP BY 1),
        |md AS (SELECT d.source AS g, m.med,
        |         median(abs(d.n_chars - m.med)) AS mad
        |       FROM documents d JOIN m ON m.g = d.source GROUP BY 1, 2),
        |c AS (SELECT d.source AS g, count(d.n_chars) AS n_rows,
        |        sum(CASE WHEN d.n_chars < md.med - 3.5 * 1.4826 * md.mad
        |                   OR d.n_chars > md.med + 3.5 * 1.4826 * md.mad
        |                 THEN 1 ELSE 0 END) AS n_outliers
        |      FROM documents d JOIN md ON md.g = d.source GROUP BY 1)
        |SELECT c.g AS source, c.n_rows, round(md.med, 4) AS median,
        |  round(md.mad, 4) AS mad,
        |  round(md.med - 3.5 * 1.4826 * md.mad, 4) AS lo,
        |  round(md.med + 3.5 * 1.4826 * md.mad, 4) AS hi, c.n_outliers
        |FROM c JOIN md USING (g) ORDER BY source""".stripMargin)),

    // Kish effective sample size under length-weighting: (Σw)²/Σw²
    // per source — how much data the weights ACTUALLY keep; the
    // honesty number every weighted-sampling scheme owes its user
    QuerySpec("q_kish_ess", ((s, d) =>
      Profile.kishEss(t(s, d, "documents"), "source", "n_chars")), Sql(
      """WITH per AS (
        |  SELECT coalesce(source, '<null>') AS g, count(*) AS n_rows,
        |    sum(CASE WHEN n_chars IS NULL OR n_chars <= 0
        |             THEN 1 ELSE 0 END) AS n_invalid,
        |    sum(CASE WHEN n_chars > 0
        |             THEN n_chars * 1.0::DOUBLE END) AS sw,
        |    sum(CASE WHEN n_chars > 0
        |             THEN n_chars * 1.0::DOUBLE * n_chars END) AS sw2,
        |    sum(CASE WHEN n_chars > 0 THEN 1 ELSE 0 END) AS nv
        |  FROM documents GROUP BY 1)
        |SELECT g AS source, n_rows,
        |  CAST(n_invalid AS BIGINT) AS n_invalid,
        |  CASE WHEN nv > 0 THEN round(sw * sw / sw2, 6) END AS ess,
        |  CASE WHEN nv > 0 THEN round(sw * sw / sw2 / nv, 6) END
        |    AS ess_ratio
        |FROM per ORDER BY source""".stripMargin)),

    // Simpson's-paradox screen: per-flag OLS slope vs the pooled slope
    // with sign-opposition flags — the aggregation trap detector (a
    // pooled trend that reverses within every stratum is a mix
    // artifact, and a gate tuned on it does the opposite of intended)
    QuerySpec("q_simpsons", ((s, d) =>
      Profile.simpsonsCheck(t(s, d, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice")), Sql(
      """WITH per AS (
        |  SELECT coalesce(l_returnflag, '<null>') AS g, count(*) AS n,
        |    sum(l_quantity * 1.0) AS sx, sum(l_extendedprice * 1.0) AS sy,
        |    sum(l_quantity * 1.0 * l_extendedprice) AS sxy,
        |    sum(l_quantity * 1.0 * l_quantity) AS sxx
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT sum(n) AS tn, sum(sx) AS tsx, sum(sy) AS tsy,
        |        sum(sxy) AS tsxy, sum(sxx) AS tsxx FROM per)
        |SELECT per.g AS l_returnflag, per.n,
        |  round(CASE WHEN per.n * sxx - sx * sx <= 0 THEN NULL
        |        ELSE (per.n * sxy - sx * sy) / (per.n * sxx - sx * sx)
        |        END, 6) AS slope,
        |  round(CASE WHEN tn * tsxx - tsx * tsx <= 0 THEN NULL
        |        ELSE (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)
        |        END, 6) AS pooled_slope,
        |  CASE WHEN per.n * sxx - sx * sx <= 0
        |         OR tn * tsxx - tsx * tsx <= 0 THEN false
        |       ELSE ((per.n * sxy - sx * sy) / (per.n * sxx - sx * sx))
        |            * ((tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx))
        |            < 0 END AS opposes
        |FROM per, tot ORDER BY l_returnflag""".stripMargin)),

    // contextual rarity: lang rare WITHIN its source but common
    // globally (a routing bug, not a rare value) — planted by diverting
    // most of src5's 'en' docs to 'de'; lift = within/global share
    QuerySpec("q_contextual_rare", ((s, d) => {
      val docs = t(s, d, "documents").select(col("source"),
        when(col("source") === "src5" && col("lang") === "en" &&
          col("doc_id") % 7 =!= 0, lit("de"))
          .otherwise(col("lang")).as("lang"))
      Profile.contextualRare(docs, "source", "lang")
    }), Sql(
      """WITH d AS (
        |  SELECT coalesce(source, '<null>') AS g,
        |    CASE WHEN source = 'src5' AND lang = 'en' AND doc_id % 7 <> 0
        |         THEN 'de' ELSE coalesce(lang, '<null>') END AS v
        |  FROM documents),
        |cells AS (SELECT g, v, count(*) AS n FROM d GROUP BY 1, 2),
        |gt AS (SELECT g, sum(n) AS gn FROM cells GROUP BY 1),
        |vt AS (SELECT v, sum(n) AS vn FROM cells GROUP BY 1),
        |t AS (SELECT sum(n) AS t FROM cells)
        |SELECT cells.g AS source, cells.v AS lang, cells.n,
        |  round(cells.n::DOUBLE / gt.gn, 6) AS within_share,
        |  round(vt.vn::DOUBLE / t.t, 6) AS global_share,
        |  round((cells.n::DOUBLE / gt.gn) / (vt.vn::DOUBLE / t.t), 6)
        |    AS lift,
        |  ((cells.n::DOUBLE / gt.gn) / (vt.vn::DOUBLE / t.t) < 0.25
        |   AND vt.vn::DOUBLE / t.t >= 0.05) AS flagged
        |FROM cells JOIN gt USING (g) JOIN vt USING (v), t
        |ORDER BY source, lang""".stripMargin)),

    // expected shortfall per source: mean of the WORST alpha-tail of
    // doc length — "the bottom decile averages 41 chars" is actionable
    // where a p10 alone is not; closed tail, boundary value counts
    QuerySpec("q_cvar", ((s, d) =>
      Profile.cvarByGroup(t(s, d, "documents"), "source", "n_chars",
        alpha = 0.1)), Sql(
      """WITH b AS (
        |  SELECT coalesce(source, '<null>') AS g, n_chars::DOUBLE AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |q AS (SELECT g, count(*) AS n, quantile_cont(v, 0.1) AS qv
        |      FROM b GROUP BY 1)
        |SELECT b.g AS source, q.n, round(q.qv, 6) AS var_alpha,
        |  count(*) AS tail_n, round(avg(b.v), 6) AS cvar
        |FROM b JOIN q ON q.g = b.g WHERE b.v <= q.qv
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // two-sample bootstrap of the mean gap: per-replicate src0-vs-src2
    // length deltas from independent deterministic Poisson draws — the
    // distribution-free "is that gap noise" readout (no normality, no
    // equal-variance assumption)
    QuerySpec("q_boot_diff", ((s, d) =>
      Profile.bootstrapDelta(t(s, d, "documents"), "doc_id", "n_chars",
        "source", "src0", "src2", nBoot = 32, seed = 7L,
        hashKey = false)), Sql(
      """WITH fa AS (
        |  SELECT b, n_chars::DOUBLE AS x,
        |    ((doc_id % 2147483648) * 4096 + b + 7 * 81) % 4294967296
        |      AS k0
        |  FROM documents, (SELECT unnest(range(0, 32)) AS b)
        |  WHERE n_chars IS NOT NULL AND source = 'src0'),
        |ha1 AS (SELECT b, x,
        |  (xor(k0, k0 >> 16) * 569557677) % 4294967296 AS h FROM fa),
        |ha2 AS (SELECT b, x,
        |  (xor(h, h >> 15) * 1935933847) % 4294967296 AS h2 FROM ha1),
        |wa AS (SELECT b, x,
        |  CASE WHEN xor(h2, h2 >> 15) < 1580030168 THEN 0
        |       WHEN xor(h2, h2 >> 15) < 3160060337 THEN 1
        |       WHEN xor(h2, h2 >> 15) < 3950075421 THEN 2
        |       WHEN xor(h2, h2 >> 15) < 4213413783 THEN 3
        |       WHEN xor(h2, h2 >> 15) < 4279248373 THEN 4
        |       WHEN xor(h2, h2 >> 15) < 4292415291 THEN 5
        |       WHEN xor(h2, h2 >> 15) < 4294609777 THEN 6
        |       WHEN xor(h2, h2 >> 15) < 4294923276 THEN 7
        |       WHEN xor(h2, h2 >> 15) < 4294962463 THEN 8
        |       ELSE 9 END AS w FROM ha2),
        |ma AS (SELECT b, round(sum(w * x) / sum(w), 6) AS mean_a
        |       FROM wa GROUP BY b),
        |fb AS (
        |  SELECT b, n_chars::DOUBLE AS x,
        |    ((doc_id % 2147483648) * 4096 + b + 7 * 81) % 4294967296
        |      AS k0
        |  FROM documents, (SELECT unnest(range(0, 32)) AS b)
        |  WHERE n_chars IS NOT NULL AND source = 'src2'),
        |hb1 AS (SELECT b, x,
        |  (xor(k0, k0 >> 16) * 569557677) % 4294967296 AS h FROM fb),
        |hb2 AS (SELECT b, x,
        |  (xor(h, h >> 15) * 1935933847) % 4294967296 AS h2 FROM hb1),
        |wb AS (SELECT b, x,
        |  CASE WHEN xor(h2, h2 >> 15) < 1580030168 THEN 0
        |       WHEN xor(h2, h2 >> 15) < 3160060337 THEN 1
        |       WHEN xor(h2, h2 >> 15) < 3950075421 THEN 2
        |       WHEN xor(h2, h2 >> 15) < 4213413783 THEN 3
        |       WHEN xor(h2, h2 >> 15) < 4279248373 THEN 4
        |       WHEN xor(h2, h2 >> 15) < 4292415291 THEN 5
        |       WHEN xor(h2, h2 >> 15) < 4294609777 THEN 6
        |       WHEN xor(h2, h2 >> 15) < 4294923276 THEN 7
        |       WHEN xor(h2, h2 >> 15) < 4294962463 THEN 8
        |       ELSE 9 END AS w FROM hb2),
        |mb AS (SELECT b, round(sum(w * x) / sum(w), 6) AS mean_b
        |       FROM wb GROUP BY b)
        |SELECT CAST(ma.b AS INT) AS b, ma.mean_a, mb.mean_b,
        |  round(ma.mean_a - mb.mean_b, 6) AS delta
        |FROM ma JOIN mb USING (b) ORDER BY b""".stripMargin)),

    // partition-digest snapshot comparison — the 100-TB fast path that
    // makes the row-level diff above incremental: per-partition
    // (count, bit_xor, sum-mod) digests of a multiplicative row hash
    // (production: xxhash64 via SnapshotDiff.rowHash — the epoch-order
    // dual-spelling pattern), compared in O(partitions). Fixture is
    // engineered so all four statuses appear: partition = doc_id % 7,
    // the %7==0 text mutation confines 'changed' to partition 0,
    // partitions 5/6 are excluded from one side each, 1–4 unchanged.
    QuerySpec("q_partition_digest", ((s, d) => {
      val base = t(s, d, "documents")
        .where(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 =!= 0)
        .withColumn("part", col("doc_id") % 7)
      val oldSnap = base.where(col("part") =!= 6)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      val newSnap = base.where(col("part") =!= 5)
      def h(df: DataFrame): Column =
        (df("doc_id") * lit(2654435761L) +
          length(df("text")).cast("long") * lit(40503L) + lit(7L)) %
          lit(4294967296L)
      SnapshotDiff.changedPartitions(
          SnapshotDiff.partitionDigests(oldSnap, "part", h(oldSnap)),
          SnapshotDiff.partitionDigests(newSnap, "part", h(newSnap)))
        .orderBy("part")
    }), Sql(
      """WITH base AS (
        |  SELECT doc_id, text, doc_id % 7 AS part
        |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 0),
        |oldh AS (
        |  SELECT part,
        |         (doc_id * 2654435761 +
        |          length(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |                      ELSE text END) * 40503 + 7) % 4294967296 AS h
        |  FROM base WHERE part <> 6),
        |newh AS (
        |  SELECT part,
        |         (doc_id * 2654435761 + length(text) * 40503 + 7)
        |           % 4294967296 AS h
        |  FROM base WHERE part <> 5),
        |od AS (SELECT part, count(*) AS n, bit_xor(h) AS x,
        |              CAST(sum(h) % 2305843009213693951 AS BIGINT) AS s
        |       FROM oldh GROUP BY 1),
        |nd AS (SELECT part, count(*) AS n, bit_xor(h) AS x,
        |              CAST(sum(h) % 2305843009213693951 AS BIGINT) AS s
        |       FROM newh GROUP BY 1)
        |SELECT coalesce(nd.part, od.part) AS part,
        |       CASE WHEN od.part IS NULL THEN 'added'
        |            WHEN nd.part IS NULL THEN 'removed'
        |            WHEN od.n = nd.n AND od.x = nd.x AND od.s = nd.s
        |              THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       coalesce(od.n, 0) AS n_rows_old,
        |       coalesce(nd.n, 0) AS n_rows_new
        |FROM od FULL JOIN nd ON od.part = nd.part
        |ORDER BY part""".stripMargin)),

    // k-anonymity release gate over quasi-identifiers (source, lang,
    // kilochar length bucket): cells shared by < 5 rows are
    // re-identification risks — the privacy audit before any corpus
    // release; one map-side-combined aggregate, no payload moves
    QuerySpec("q_k_anonymity", ((s, d) =>
      Governance.kAnonymity(
        t(s, d, "documents")
          .withColumn("len_bucket",
            floor(col("n_chars") / lit(1000L)).cast("long")),
        Seq("source", "lang", "len_bucket"), k = 5L)
        .orderBy("source", "lang", "len_bucket")), Sql(
      """SELECT source, lang,
        |  CAST(floor(n_chars / 1000.0) AS BIGINT) AS len_bucket,
        |  count(*) AS n, count(*) < 5 AS at_risk
        |FROM documents
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin)),

    // l-diversity companion: within each (source, len-bucket) cell the
    // sensitive column (lang) must take >= 2 distinct values or cell
    // membership itself discloses it; exact distinct via the two-level
    // (QI, sensitive) pre-aggregate
    QuerySpec("q_l_diversity", ((s, d) =>
      Governance.lDiversity(
        t(s, d, "documents")
          .withColumn("len_bucket",
            floor(col("n_chars") / lit(1000L)).cast("long")),
        Seq("source", "len_bucket"), "lang", l = 2L)
        .orderBy("source", "len_bucket")), Sql(
      """WITH p AS (
        |  SELECT DISTINCT source,
        |    CAST(floor(n_chars / 1000.0) AS BIGINT) AS len_bucket, lang
        |  FROM documents)
        |SELECT source, len_bucket, count(*) AS l_div,
        |       count(*) < 2 AS at_risk
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // mergeable profile algebra: profile each half once, merge
    // the metadata-sized profiles — profile(A ∪ B) without re-scanning
    // A (the incremental-snapshot accounting path); oracle replays the
    // same per-half-then-merge arithmetic
    QuerySpec("q_profile_merge", ((s, d) => {
      val li = t(s, d, "lineitem")
      val fields = Seq("l_quantity", "l_extendedprice", "l_discount")
      val merged = Profile.mergeProfiles(Seq(
        Profile.mergeableProfile(li.where(col("l_orderkey") % 2 === 0), fields),
        Profile.mergeableProfile(li.where(col("l_orderkey") % 2 === 1), fields)))
      merged.select(col("field"), col("cnt"), col("min"), col("max"),
          round(col("sum"), 4).as("sum"), round(col("avg"), 6).as("avg"))
        .orderBy("field")
    }), Sql(
      """WITH halves AS (
        |  SELECT l_orderkey % 2 AS h, l_quantity, l_extendedprice,
        |         l_discount
        |  FROM lineitem),
        |p AS (
        |  SELECT 'l_quantity' AS field, h, count(l_quantity) AS cnt,
        |    min(l_quantity) AS mn, max(l_quantity) AS mx,
        |    sum(l_quantity) AS sm FROM halves GROUP BY h
        |  UNION ALL
        |  SELECT 'l_extendedprice', h, count(l_extendedprice),
        |    min(l_extendedprice), max(l_extendedprice),
        |    sum(l_extendedprice) FROM halves GROUP BY h
        |  UNION ALL
        |  SELECT 'l_discount', h, count(l_discount), min(l_discount),
        |    max(l_discount), sum(l_discount) FROM halves GROUP BY h)
        |SELECT field, CAST(sum(cnt) AS BIGINT) AS cnt,
        |  min(mn) AS min, max(mx) AS max,
        |  round(sum(sm), 4) AS sum,
        |  CASE WHEN sum(cnt) > 0 THEN round(sum(sm) / sum(cnt), 6) END
        |    AS avg
        |FROM p GROUP BY field ORDER BY field""".stripMargin)),

    // ε-DP count release (Laplace mechanism): the third privacy
    // gate next to k-anonymity / l-diversity. Deterministic seeded
    // inverse-CDF noise — u from the group ordinal's multiplicative
    // hash — so DuckDB replays the release bit-exactly (ln parity
    // holds, the q_tfidf precedent); production swaps xxhash64 draws
    QuerySpec("q_dp_counts", ((s, d) =>
      Governance.dpCounts(
        t(s, d, "documents").withColumn("grp", col("doc_id") % 20),
        "grp", col("grp"), epsilon = 1.0, seed = 101L)
        .orderBy("grp")), Sql(
      """WITH g AS (SELECT doc_id % 20 AS grp, count(*) AS n_true
        |           FROM documents GROUP BY 1),
        |n AS (SELECT grp, n_true,
        |        (CAST((grp * 2654435761 + 101) % 4294967296 AS DOUBLE)
        |          + 0.5) / 4294967296.0 AS u
        |      FROM g)
        |SELECT grp, n_true,
        |  round(-1.0 * (CASE WHEN u > 0.5 THEN 1.0 WHEN u < 0.5 THEN -1.0
        |                     ELSE 0.0 END)
        |        * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise,
        |  round(n_true + (-1.0 * (CASE WHEN u > 0.5 THEN 1.0
        |                               WHEN u < 0.5 THEN -1.0
        |                               ELSE 0.0 END)
        |        * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS n_dp
        |FROM n ORDER BY grp""".stripMargin)),

    // Benford first-digit conformance on a grown magnitude column;
    // digit read from the bigint decimal rendering (never floor∘log10 —
    // float error at powers of ten would mis-bucket per engine)
    QuerySpec("q_benford", ((s, d) =>
      Profile.benfordTest(t(s, d, "lineitem"), "l_extendedprice")), Sql(
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice)
        |                 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |           FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL
        |             AND l_extendedprice >= 1.0),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM g),
        |e AS (SELECT CAST(r.range AS INT) AS digit,
        |             log10(1.0 + 1.0 / r.range) AS p_exp
        |      FROM range(1, 10) r)
        |SELECT e.digit, CAST(COALESCE(g.n, 0) AS BIGINT) AS n,
        |       round(COALESCE(g.n, 0) / t.t, 6) AS p_obs,
        |       round(e.p_exp, 6) AS p_exp,
        |       round(t.t * (COALESCE(g.n, 0) / t.t - e.p_exp)
        |                 * (COALESCE(g.n, 0) / t.t - e.p_exp)
        |             / e.p_exp, 6) AS chi_term
        |FROM e LEFT JOIN g USING (digit), t
        |ORDER BY e.digit""".stripMargin)),

    // functional-dependency audit: does partkey determine suppkey?
    // (here: no — the synthetic data fans suppliers per part; the
    // summary row quantifies by how much)
    QuerySpec("q_fd_check", ((s, d) =>
      Profile.fdViolations(t(s, d, "lineitem"), "l_partkey", "l_suppkey")), Sql(
      """WITH p AS (SELECT l_partkey,
        |             count(DISTINCT COALESCE(CAST(l_suppkey AS VARCHAR),
        |                                     '<null>')) AS nd
        |           FROM lineitem WHERE l_partkey IS NOT NULL
        |           GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_violating_keys,
        |       round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS violation_rate,
        |       CAST(max(nd) AS BIGINT) AS max_distinct_dep
        |FROM p""".stripMargin)),

    // candidate-key discovery over orders: o_orderkey is a true
    // key, o_custkey is 10:1, and the status column is categorical —
    // one multi-distinct aggregate pass, unpivoted driver-side-free
    QuerySpec("q_key_candidates", ((s, d) =>
      Profile.keyCandidates(t(s, d, "orders"), Seq(
        ("o_orderkey", col("o_orderkey")),
        ("o_custkey", col("o_custkey")),
        ("o_orderkey:o_custkey",
          concat_ws(":", col("o_orderkey"), col("o_custkey")))))), Sql(
      """WITH a AS (SELECT count(*) AS n,
        |    count(DISTINCT o_orderkey) AS d0,
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS z0,
        |    count(DISTINCT o_custkey) AS d1,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS z1,
        |    count(DISTINCT concat_ws(':', CAST(o_orderkey AS VARCHAR),
        |                             CAST(o_custkey AS VARCHAR))) AS d2,
        |    sum(CASE WHEN concat_ws(':', CAST(o_orderkey AS VARCHAR),
        |               CAST(o_custkey AS VARCHAR)) IS NULL
        |             THEN 1 ELSE 0 END) AS z2
        |  FROM orders)
        |SELECT "column", CAST(n AS BIGINT) AS n_rows,
        |       CAST(d AS BIGINT) AS n_distinct, CAST(z AS BIGINT) AS n_nulls,
        |       round(CAST(d AS DOUBLE) / n, 6) AS uniq_ratio,
        |       (d = n AND z = 0) AS is_key
        |FROM (
        |  SELECT 'o_orderkey' AS "column", n, d0 AS d, z0 AS z FROM a
        |  UNION ALL
        |  SELECT 'o_custkey', n, d1, z1 FROM a
        |  UNION ALL
        |  SELECT 'o_orderkey:o_custkey', n, d2, z2 FROM a)
        |ORDER BY "column"""".stripMargin)),

    // key-space continuity audit: holes planted at %13==5; both
    // islands and missing mass via shifted-key anti-joins — never the
    // textbook islands window, whose unpartitioned ORDER BY is a
    // SinglePartition sort of the whole table
    QuerySpec("q_id_gaps", ((s, d) =>
      Continuity.gapSummary(
        t(s, d, "documents").where(col("doc_id") % 13 =!= 5), "doc_id")), Sql(
      """WITH k AS (
        |  SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 13 <> 5),
        |s AS (
        |  SELECT count(*) AS n_islands FROM k a
        |  WHERE NOT EXISTS (SELECT 1 FROM k b WHERE b.id = a.id - 1)),
        |b AS (
        |  SELECT count(*) AS n_rows, count(DISTINCT doc_id) AS n_distinct,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT n_rows, n_distinct, min_id, max_id,
        |       max_id - min_id + 1 - n_distinct AS n_missing,
        |       CAST(n_islands AS BIGINT) AS n_islands
        |FROM b, s""".stripMargin)),

    // percentile ranks without the percent_rank() trap (an
    // unpartitioned window = one task sorts the table): distinct-value
    // counts collapse map-side, the ordered window runs over the
    // O(distinct) frame only
    QuerySpec("q_pct_rank", ((s, d) =>
      Profile.percentileRanks(
        t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("q")), "q")), Sql(
      """WITH v AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS value FROM lineitem
        |  WHERE l_quantity IS NOT NULL),
        |r AS (SELECT value, percent_rank() OVER (ORDER BY value) AS pr
        |      FROM v)
        |SELECT value, count(*) AS n, round(min(pr), 6) AS pct_rank
        |FROM r GROUP BY value ORDER BY value""".stripMargin)),

    // pre-flight join forecast: per-key nₐ·n_b IS the exact inner
    // equi-join output size — the table you read before choosing plain
    // vs salted join; self-join of events on user_id, heaviest first
    QuerySpec("q_join_estimate", ((s, d) => {
      val ev = t(s, d, "events")
      SkewJoin.joinSizeEstimate(ev, "user_id", ev, "user_id", topK = 10)
    }), Sql(
      """WITH c AS (
        |  SELECT user_id AS key, count(*) AS n FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT key, n AS n_a, n AS n_b, n * n AS rows_out
        |FROM c ORDER BY rows_out DESC, key LIMIT 10""".stripMargin)),

    // CUBE data card: all four grouping granularities of
    // (lang, source) in ONE aggregate pass; '<all>' marks roll-ups,
    // gid carries the grouping bits
    QuerySpec("q_cube", ((s, d) =>
      Profile.cubeCounts(t(s, d, "documents"), "lang", "source")), Sql(
      """SELECT coalesce(lang, '<all>') AS lang,
        |       coalesce(source, '<all>') AS source,
        |       CAST(GROUPING(lang, source) AS BIGINT) AS gid,
        |       count(*) AS n
        |FROM documents GROUP BY CUBE(lang, source)
        |ORDER BY gid, lang, source""".stripMargin)),

    // mass-weighted length percentiles: where the TOKEN MASS
    // sits, not where the median document sits — cumulative window
    // over the O(distinct) frame only, integer masses exact
    QuerySpec("q_mass_percentiles", ((s, d) =>
      Profile.massWeightedPercentiles(t(s, d, "documents"),
        "n_chars", "n_chars", Seq(0.5, 0.9, 0.99))), Sql(
      """WITH pv AS (
        |  SELECT n_chars AS value, count(*) AS n,
        |         CAST(sum(n_chars) AS BIGINT) AS m
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT value,
        |         CAST(sum(n) OVER w AS BIGINT) AS cn,
        |         CAST(sum(m) OVER w AS BIGINT) AS cm
        |  FROM pv WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT max(cm) AS tt FROM c),
        |p AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
        |SELECT p.p, min(c.value) AS threshold,
        |       arg_min(c.cn, c.value) AS n_le,
        |       arg_min(c.cm, c.value) AS mass_le,
        |       round(CAST(arg_min(c.cm, c.value) AS DOUBLE)
        |             / CAST(t.tt AS DOUBLE), 6) AS mass_frac
        |FROM p, t, c
        |WHERE CAST(c.cm AS DOUBLE) >= p.p * CAST(t.tt AS DOUBLE)
        |GROUP BY p.p, t.tt ORDER BY p.p""".stripMargin)),

    // Wald–Wolfowitz runs test on above-median doc length in
    // doc_id order — "is the pack order actually shuffled?"
    // runs test: transitions by the same pos+1 self-join; moments from
    // the three integer counts in the identical expression order
    QuerySpec("q_runs_test", ((s, d) => {
      val docs = t(s, d, "documents")
      val med = docs.agg(
        expr("percentile(CAST(n_chars AS DOUBLE), 0.5D)").as("__med"))
      val flagged = docs.crossJoin(broadcast(med))
        .select(col("doc_id"),
          (col("n_chars").cast("double") > col("__med")).as("__flag"))
      Profile.runsTest(flagged, "doc_id", "__flag")
    }), Sql(
      """WITH m AS (SELECT median(CAST(n_chars AS DOUBLE)) AS med
        |           FROM documents),
        |b AS (SELECT doc_id AS p,
        |             (CAST(n_chars AS DOUBLE) > m.med) AS f
        |      FROM documents, m),
        |c AS (SELECT count(*) AS n,
        |             CAST(coalesce(sum(CASE WHEN f THEN 1 ELSE 0 END), 0)
        |                  AS BIGINT) AS n1
        |      FROM b),
        |t AS (SELECT count(*) AS n_pairs,
        |             CAST(coalesce(sum(CASE WHEN a.f <> d.f THEN 1
        |                                    ELSE 0 END), 0) AS BIGINT)
        |               AS tr
        |      FROM b a JOIN b d ON a.p + 1 = d.p)
        |SELECT c.n, c.n1, c.n - c.n1 AS n2, t.n_pairs,
        |  CASE WHEN c.n > 0 THEN t.tr + 1 ELSE 0 END AS n_runs,
        |  CASE WHEN c.n > 0 THEN round(1.0 + 2.0 * CAST(c.n1 AS DOUBLE)
        |         * CAST(c.n - c.n1 AS DOUBLE) / CAST(c.n AS DOUBLE), 6)
        |       ELSE NULL END AS mu_runs,
        |  CASE WHEN c.n > 1 AND
        |            (2.0 * CAST(c.n1 AS DOUBLE)
        |              * CAST(c.n - c.n1 AS DOUBLE)
        |              * (2.0 * CAST(c.n1 AS DOUBLE)
        |                  * CAST(c.n - c.n1 AS DOUBLE)
        |                  - CAST(c.n AS DOUBLE)))
        |            / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)
        |               * (CAST(c.n AS DOUBLE) - 1.0)) > 0
        |       THEN round((CAST(t.tr + 1 AS DOUBLE)
        |              - (1.0 + 2.0 * CAST(c.n1 AS DOUBLE)
        |                  * CAST(c.n - c.n1 AS DOUBLE)
        |                  / CAST(c.n AS DOUBLE)))
        |            / sqrt((2.0 * CAST(c.n1 AS DOUBLE)
        |                * CAST(c.n - c.n1 AS DOUBLE)
        |                * (2.0 * CAST(c.n1 AS DOUBLE)
        |                    * CAST(c.n - c.n1 AS DOUBLE)
        |                    - CAST(c.n AS DOUBLE)))
        |              / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)
        |                 * (CAST(c.n AS DOUBLE) - 1.0))), 6)
        |       ELSE NULL END AS z
        |FROM c, t""".stripMargin)),

    // Hill tail index of the price distribution: how heavy is the
    // heavy tail (α < 2 ⇒ infinite variance ⇒ mean-based sizing is
    // garbage); one TakeOrdered fold + driver arithmetic on 51 doubles
    // Hill tail index: the ln-sum replayed in the SAME descending-value
    // order via an ordered window cumsum
    QuerySpec("q_hill_tail", ((s, d) =>
      Profile.hillTailIndex(t(s, d, "lineitem"), "l_extendedprice",
        k = 50)), Sql(
      """WITH t AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
        |  ORDER BY x DESC LIMIT 51),
        |r AS (SELECT x, row_number() OVER (ORDER BY x DESC) AS rn FROM t),
        |c AS (SELECT rn,
        |        sum(ln(x / (SELECT min(x) FROM t)))
        |          OVER (ORDER BY rn
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS s
        |      FROM r WHERE rn <= 50)
        |SELECT CAST(50 AS BIGINT) AS k,
        |  (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_used,
        |  CASE WHEN (SELECT count(*) FROM t) >= 51
        |       THEN (SELECT min(x) FROM t) END AS x_tail,
        |  CASE WHEN (SELECT count(*) FROM t) >= 51
        |            AND (SELECT s FROM c WHERE rn = 50) > 0
        |       THEN round(50.0 / (SELECT s FROM c WHERE rn = 50), 6)
        |  END AS hill_alpha""".stripMargin)),

    // join-key containment pre-flight: which customers ever
    // emitted an event (planted NULL keys at %37) — the "will this
    // join drop my rows" summary before the join itself
    // key containment: identical planted NULL keys, distinct-key
    // frames, and fraction spellings
    QuerySpec("q_key_containment", ((s, d) => {
      val cust = t(s, d, "customer").select(
        when(col("c_custkey") % 37 === 0, lit(null).cast("long"))
          .otherwise(col("c_custkey")).as("c_custkey"))
      Referential.keyContainment(cust, "c_custkey",
        t(s, d, "events"), "user_id")
    }), Sql(
      """WITH lft AS (
        |  SELECT CASE WHEN c_custkey % 37 = 0 THEN NULL
        |              ELSE c_custkey END AS k
        |  FROM customer),
        |lr AS (SELECT CAST(count(*) AS BIGINT) AS n_left_rows,
        |              CAST(count(k) AS BIGINT) AS n_left_nonnull
        |       FROM lft),
        |lk AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM lft
        |       WHERE k IS NOT NULL GROUP BY k),
        |rk AS (SELECT DISTINCT user_id AS k FROM events
        |       WHERE user_id IS NOT NULL),
        |sh AS (SELECT CAST(count(*) AS BIGINT) AS n_shared_keys,
        |              CAST(coalesce(sum(lk.c), 0) AS BIGINT)
        |                AS n_left_rows_matched
        |       FROM lk JOIN rk USING (k)),
        |ks AS (SELECT CAST(count(*) AS BIGINT) AS n_left_keys FROM lk),
        |kr AS (SELECT CAST(count(*) AS BIGINT) AS n_right_keys FROM rk)
        |SELECT lr.n_left_rows, lr.n_left_nonnull, ks.n_left_keys,
        |  kr.n_right_keys, sh.n_shared_keys, sh.n_left_rows_matched,
        |  CASE WHEN ks.n_left_keys > 0
        |       THEN round(CAST(sh.n_shared_keys AS DOUBLE)
        |                  / CAST(ks.n_left_keys AS DOUBLE), 6)
        |  END AS key_containment,
        |  CASE WHEN lr.n_left_nonnull > 0
        |       THEN round(CAST(sh.n_left_rows_matched AS DOUBLE)
        |                  / CAST(lr.n_left_nonnull AS DOUBLE), 6)
        |  END AS row_coverage
        |FROM lr, ks, kr, sh""".stripMargin)),

    // string column type inference: regex-anchored ladder (engines
    // disagree on numeric coercions; regex classes don't) + calendar
    // try_cast for dates — one fused aggregate pass over all columns
    // type inference: identical regex ladder (RE2-compatible classes,
    // anchored) and the same calendar-validity try_cast for dates
    QuerySpec("q_type_infer", ((s, d) => {
      val id = col("doc_id").cast("long")
      val mixed = when(id % 7 === 0, lit("123"))
        .when(id % 7 === 1, lit("-4.5e2"))
        .when(id % 7 === 2, lit("2024-01-15"))
        .when(id % 7 === 3, lit("2024-13-40"))
        .when(id % 7 === 4, lit("true"))
        .when(id % 7 === 5, lit("abc"))
        .otherwise(lit(null).cast("string"))
      Profile.typeInference(
        t(s, d, "documents").select(mixed.as("mixed"),
          (id % 1000).cast("string").as("ints"),
          when(id % 2 === 0, lit("1.5")).otherwise(lit("7")).as("dbls"),
          when(id % 3 === 0, lit("1999-12-31")).otherwise(lit("2000-01-02"))
            .as("dates")),
        Seq("dbls", "dates", "ints", "mixed"))
    }), Sql(
      """WITH x AS (
        |  SELECT CASE WHEN doc_id % 7 = 0 THEN '123'
        |              WHEN doc_id % 7 = 1 THEN '-4.5e2'
        |              WHEN doc_id % 7 = 2 THEN '2024-01-15'
        |              WHEN doc_id % 7 = 3 THEN '2024-13-40'
        |              WHEN doc_id % 7 = 4 THEN 'true'
        |              WHEN doc_id % 7 = 5 THEN 'abc' END AS mixed,
        |         CAST(doc_id % 1000 AS VARCHAR) AS ints,
        |         CASE WHEN doc_id % 2 = 0 THEN '1.5' ELSE '7' END AS dbls,
        |         CASE WHEN doc_id % 3 = 0 THEN '1999-12-31'
        |              ELSE '2000-01-02' END AS dates
        |  FROM documents),
        |u AS (
        |  SELECT 'dbls' AS col_name, dbls AS v FROM x UNION ALL
        |  SELECT 'dates', dates FROM x UNION ALL
        |  SELECT 'ints', ints FROM x UNION ALL
        |  SELECT 'mixed', mixed FROM x),
        |a AS (
        |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null,
        |    CAST(sum(CASE WHEN regexp_matches(v, '^[+-]?[0-9]+$')
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_bigint,
        |    CAST(sum(CASE WHEN regexp_matches(v,
        |        '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$')
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_double,
        |    CAST(sum(CASE WHEN regexp_matches(v,
        |        '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
        |                  AND try_cast(v AS DATE) IS NOT NULL
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_date,
        |    CAST(sum(CASE WHEN lower(v) IN ('true', 'false')
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_bool
        |  FROM u GROUP BY col_name)
        |SELECT col_name AS "column", n_rows, n_null, n_bigint, n_double,
        |  n_date, n_bool,
        |  CASE WHEN n_rows - n_null = 0 THEN 'empty'
        |       WHEN n_bigint = n_rows - n_null THEN 'bigint'
        |       WHEN n_double = n_rows - n_null THEN 'double'
        |       WHEN n_date = n_rows - n_null THEN 'date'
        |       WHEN n_bool = n_rows - n_null THEN 'boolean'
        |       ELSE 'string' END AS suggested
        |FROM a ORDER BY col_name""".stripMargin)),

    // winsorization at the dyadic [1/16, 15/16] fence: thresholds
    // from one exact-percentile aggregate, clip is a stateless scan
    // winsorize: identical dyadic quantile_cont thresholds, identical
    // clip CASE
    QuerySpec("q_winsorize", ((s, d) =>
      Profile.winsorize(t(s, d, "documents"), "doc_id", "n_chars")
        .orderBy("doc_id")), Sql(
      """WITH t AS (
        |  SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.0625) AS lo,
        |         quantile_cont(CAST(n_chars AS DOUBLE), 0.9375) AS hi
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT doc_id, n_chars,
        |  CASE WHEN n_chars IS NULL THEN NULL
        |       WHEN CAST(n_chars AS DOUBLE) < t.lo THEN t.lo
        |       WHEN CAST(n_chars AS DOUBLE) > t.hi THEN t.hi
        |       ELSE CAST(n_chars AS DOUBLE) END AS clipped,
        |  CASE WHEN n_chars IS NULL THEN NULL
        |       ELSE CAST(n_chars AS DOUBLE) < t.lo
        |            OR CAST(n_chars AS DOUBLE) > t.hi
        |  END AS was_clipped
        |FROM documents, t ORDER BY doc_id""".stripMargin)),

    // rare-category tail: planted one-doc 'exotic' source — where
    // typos and schema drift hide in a 10¹²-row table
    // rare categories: identical planted one-doc source, exact shares
    QuerySpec("q_rare_categories", ((s, d) => {
      val src = when(col("doc_id") === 499, lit("exotic"))
        .otherwise(col("source"))
      Profile.rareCategories(
        t(s, d, "documents").select(src.as("source")), "source",
        minShare = 0.02)
    }), Sql(
      """WITH x AS (
        |  SELECT CASE WHEN doc_id = 499 THEN 'exotic' ELSE source END
        |    AS category
        |  FROM documents),
        |c AS (SELECT coalesce(category, '<null>') AS category,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM x GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
        |SELECT category, n,
        |  round(CAST(n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS share,
        |  round(CAST(n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) < 0.02
        |    AS rare
        |FROM c, t ORDER BY category""".stripMargin)),

    // per-source conformal quantiles: each source gets its own
    // calibrated n_chars gate (one global threshold over-gates clean
    // sources, under-gates noisy ones); exact integer ranks, per-group
    // row_number window (never a SinglePartition global sort)
    QuerySpec("q_conformal_by_source", ((s, d) =>
      Profile.conformalQuantileByGroup(
        t(s, d, "documents").where(col("doc_id") % 2 === 0),
        "source", "n_chars", alphaNum = 1, alphaDen = 10)), Sql(
      """WITH cal AS (
        |  SELECT coalesce(CAST(source AS VARCHAR), '<null>') AS g,
        |         CAST(n_chars AS BIGINT) AS s
        |  FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        |r AS (
        |  SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s)
        |           AS rn
        |  FROM cal),
        |ks AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_cal,
        |    least(((count(*) + 1) * 9 + 9) // 10, count(*)) AS k,
        |    ((count(*) + 1) * 9 + 9) // 10 > count(*) AS clamped
        |  FROM cal GROUP BY g)
        |SELECT r.g AS source, ks.n_cal, CAST(ks.k AS BIGINT) AS k,
        |  r.s AS q_hat, ks.clamped
        |FROM r JOIN ks ON r.g = ks.g AND r.rn = ks.k
        |ORDER BY source""".stripMargin)),

    // split-conformal calibrated gate on n_chars: the
    // ceil((n+1)(1-alpha))-th smallest calibration score via the
    // radix-select kthSmallestLong (no sort, no sketch), rank in
    // exact integer arithmetic, hold-out coverage in the same row
    QuerySpec("q_conformal", ((s, d) => {
      val docs = t(s, d, "documents")
      Profile.conformalQuantile(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        "n_chars", alphaNum = 1, alphaDen = 10)
    }), Sql(
      """WITH cal AS (
        |  SELECT n_chars FROM documents
        |  WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        |tst AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 1),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
        |kk AS (
        |  SELECT n_cal,
        |    least(((n_cal + 1) * 9 + 9) // 10, n_cal) AS k,
        |    ((n_cal + 1) * 9 + 9) // 10 > n_cal AS clamped
        |  FROM p),
        |r AS (
        |  SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn
        |  FROM cal),
        |q AS (SELECT n_chars AS q_hat FROM r, kk WHERE rn = kk.k),
        |c AS (
        |  SELECT CAST(count(tst.n_chars) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN tst.n_chars <= q.q_hat THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_covered
        |  FROM tst, q)
        |SELECT kk.n_cal, CAST(kk.k AS BIGINT) AS k,
        |  CAST(q.q_hat AS BIGINT) AS q_hat, kk.clamped,
        |  c.n_test, c.n_covered,
        |  CASE WHEN c.n_test > 0
        |       THEN round(CAST(c.n_covered AS DOUBLE) / c.n_test, 6) END
        |    AS coverage
        |FROM kk, q, c""".stripMargin)),

    // Kendall tau-b on daily (volume, reach): exact integer
    // concordance over the O(distinct-cell) frame — the spearman
    // discipline applied to pair inversions
    QuerySpec("q_kendall_tau", ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      Profile.kendallTau(daily, "n_events", "n_users")
    }), Sql(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS x,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |cells AS (
        |  SELECT x, y, CAST(count(*) AS BIGINT) AS c
        |  FROM daily GROUP BY 1, 2),
        |p AS (
        |  SELECT a.y AS y1, b.y AS y2, a.c AS c1, b.c AS c2
        |  FROM cells a JOIN cells b ON a.x < b.x),
        |cd AS (
        |  SELECT
        |    coalesce(sum(CASE WHEN y1 < y2 THEN c1 * c2 ELSE 0 END), 0)
        |      AS cc,
        |    coalesce(sum(CASE WHEN y1 > y2 THEN c1 * c2 ELSE 0 END), 0)
        |      AS dd
        |  FROM p),
        |tx AS (
        |  SELECT sum(nx * (nx - 1) // 2) AS n1, sum(nx) AS n
        |  FROM (SELECT sum(c) AS nx FROM cells GROUP BY x)),
        |ty AS (
        |  SELECT sum(ny * (ny - 1) // 2) AS n2
        |  FROM (SELECT sum(c) AS ny FROM cells GROUP BY y))
        |SELECT CAST(n AS BIGINT) AS n, CAST(cc AS BIGINT) AS n_concordant,
        |  CAST(dd AS BIGINT) AS n_discordant,
        |  CAST(n1 AS BIGINT) AS tie_pairs_x,
        |  CAST(n2 AS BIGINT) AS tie_pairs_y,
        |  CASE WHEN sqrt((CAST(n AS DOUBLE) * (n - 1) / 2 - n1)
        |                 * (CAST(n AS DOUBLE) * (n - 1) / 2 - n2)) > 0
        |       THEN round((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE))
        |                  / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2 - n1)
        |                         * (CAST(n AS DOUBLE) * (n - 1) / 2 - n2)),
        |                  6)
        |  END AS tau_b,
        |  CASE WHEN CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE) > 0
        |       THEN round((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE))
        |                  / (CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE)), 6)
        |  END AS gamma
        |FROM cd, tx, ty""".stripMargin)),
  )
}
