package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Bucketing

import Fixtures._

/** Physical layout: bucketing, zone maps, space-filling curves and
  * storage audits (`Bucketing`, `StorageAudit`, `SpatialExpressions`). */
object LayoutQueries {

  val specs: Seq[QuerySpec] = Seq(

    // bucketed co-located join: both sides written hash-bucketed
    // + sorted on the join key, so the fact⋈fact join and any groupBy
    // on that key plan with ZERO exchanges (BucketingSpec pins the
    // plan; this row pins result parity vs DuckDB's plain join). The
    // write cost is paid once and amortizes over every reuse — the
    // storage-side answer to a repeated 100 TB join.
    QuerySpec("q_bucketed_join", ((s, d) => {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      Bucketing.writeBucketed(t(s, d, "orders"), s"graft_bj_orders_$tag",
        s"/tmp/graft_bj_$tag/orders", "o_orderkey", 8)
      Bucketing.writeBucketed(t(s, d, "lineitem"), s"graft_bj_lineitem_$tag",
        s"/tmp/graft_bj_$tag/lineitem", "l_orderkey", 8)
      Bucketing.colocatedJoin(s, s"graft_bj_orders_$tag", "o_orderkey",
          s"graft_bj_lineitem_$tag", "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }), Sql(
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  sum(l_quantity) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // physical-layout audit: rows + file count per partition
    // directory from input_file_name() inside one aggregate scan — the
    // small-files/skew check before compaction; DuckDB re-reads the
    // same directory with filename=true as the oracle
    QuerySpec("q_layout_audit", ((s, d) => {
      val docs = t(s, d, "documents")
      Bucketing.writePartitionedBy(docs, "/tmp/graft_layout_audit",
        "source")
      Bucketing.partitionAudit(s, "/tmp/graft_layout_audit", "source")
    }), Sql(
      """SELECT regexp_extract(filename, 'source=([^/]+)', 1) AS part,
        |       count(*) AS n_rows,
        |       CAST(count(DISTINCT filename) AS BIGINT) AS n_files
        |FROM read_parquet('/tmp/graft_layout_audit/**/*.parquet',
        |                  filename=true)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // parquet zone map of a range-clustered layout: per-file
    // (rows, min, max) from ONE input_file_name aggregate — the
    // metadata a pruning reader consults, measured from the rows
    // zone map: DuckDB re-reads the files Spark wrote and rebuilds the
    // per-file (rows, min, max) triples — file identity dropped, the
    // zone map is the multiset
    QuerySpec("q_zone_map", ((s, d) => {
      Bucketing.writeSortedBy(t(s, d, "documents"), "/tmp/graft_zonemap",
        "n_chars", nFiles = 8)
      Bucketing.zoneMap(s, "/tmp/graft_zonemap", "n_chars")
    }), Sql(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       min(n_chars) AS min_val, max(n_chars) AS max_val
        |FROM read_parquet('/tmp/graft_zonemap/*.parquet', filename=true)
        |GROUP BY filename
        |ORDER BY min_val, max_val, n_rows""".stripMargin)),

    // data-skipping effectiveness for n_chars BETWEEN 100 AND 150
    // on the same clustered layout: how much of the table a pruning
    // reader never touches
    QuerySpec("q_zone_skip", ((s, d) => {
      Bucketing.writeSortedBy(t(s, d, "documents"), "/tmp/graft_zoneskip",
        "n_chars", nFiles = 8)
      Bucketing.zoneMapSkipStats(s, "/tmp/graft_zoneskip", "n_chars",
        lo = 100L, hi = 150L)
    }), Sql(
      """WITH zm AS (
        |  SELECT filename, CAST(count(*) AS BIGINT) AS n_rows,
        |         min(n_chars) AS mn, max(n_chars) AS mx
        |  FROM read_parquet('/tmp/graft_zoneskip/*.parquet',
        |                    filename=true)
        |  GROUP BY filename)
        |SELECT CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN mx < 100 OR mn > 150 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_files_skipped,
        |  CAST(sum(CASE WHEN mx < 100 OR mn > 150 THEN n_rows ELSE 0 END)
        |       AS BIGINT) AS n_rows_skipped,
        |  CASE WHEN count(*) > 0
        |       THEN round(CAST(sum(CASE WHEN mx < 100 OR mn > 150
        |                                THEN 1 ELSE 0 END) AS DOUBLE)
        |                  / CAST(count(*) AS DOUBLE), 6)
        |       ELSE NULL END AS skip_fraction,
        |  CASE WHEN sum(n_rows) > 0
        |       THEN round(CAST(sum(CASE WHEN mx < 100 OR mn > 150
        |                                THEN n_rows ELSE 0 END) AS DOUBLE)
        |                  / CAST(sum(n_rows) AS DOUBLE), 6)
        |       ELSE NULL END AS row_skip_fraction
        |FROM zm""".stripMargin)),

    // Z-order clustered layout: per-dimension data-skipping stats
    // prove BOTH columns prune on the Morton-interleaved sort (a 1-D
    // sort buys one dimension and destroys the other)
    // z-order skipping: DuckDB re-reads the z-clustered files and
    // replays the per-dimension skip rule
    QuerySpec("q_zorder_skip", ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        col("n_chars"), (col("doc_id") % 256).as("bucket2"))
      Bucketing.writeZOrdered(docs, "/tmp/graft_zorder", "n_chars",
        "bucket2", nFiles = 8)
      val d1 = Bucketing.zoneMapSkipStats(s, "/tmp/graft_zorder",
        "n_chars", 100L, 150L).withColumn("dim", lit("n_chars"))
      val d2 = Bucketing.zoneMapSkipStats(s, "/tmp/graft_zorder",
        "bucket2", 0L, 31L).withColumn("dim", lit("bucket2"))
      d1.unionByName(d2).orderBy("dim")
    }), Sql(
      """WITH zm AS (
        |  SELECT filename, CAST(count(*) AS BIGINT) AS n_rows,
        |         min(n_chars) AS mn1, max(n_chars) AS mx1,
        |         min(bucket2) AS mn2, max(bucket2) AS mx2
        |  FROM read_parquet('/tmp/graft_zorder/*.parquet',
        |                    filename=true)
        |  GROUP BY filename),
        |d1 AS (
        |  SELECT 'n_chars' AS dim, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN mx1 < 100 OR mn1 > 150 THEN 1 ELSE 0
        |             END) AS BIGINT) AS n_files_skipped,
        |    CAST(sum(CASE WHEN mx1 < 100 OR mn1 > 150 THEN n_rows
        |             ELSE 0 END) AS BIGINT) AS n_rows_skipped
        |  FROM zm),
        |d2 AS (
        |  SELECT 'bucket2' AS dim, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN mx2 < 0 OR mn2 > 31 THEN 1 ELSE 0
        |             END) AS BIGINT) AS n_files_skipped,
        |    CAST(sum(CASE WHEN mx2 < 0 OR mn2 > 31 THEN n_rows
        |             ELSE 0 END) AS BIGINT) AS n_rows_skipped
        |  FROM zm),
        |u AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        |SELECT n_files, n_rows, n_files_skipped, n_rows_skipped,
        |  CASE WHEN n_files > 0
        |       THEN round(CAST(n_files_skipped AS DOUBLE)
        |                  / CAST(n_files AS DOUBLE), 6)
        |  END AS skip_fraction,
        |  CASE WHEN n_rows > 0
        |       THEN round(CAST(n_rows_skipped AS DOUBLE)
        |                  / CAST(n_rows AS DOUBLE), 6)
        |  END AS row_skip_fraction,
        |  dim
        |FROM u ORDER BY dim""".stripMargin)),

    // Hilbert-curve index parity: the native codegen'd xy2d walk
    // vs a generated 10-level unrolled SQL oracle — verifies the MATH
    // before any layout trusts it (the rotate/flip state is where
    // hand-rolled Hilbert implementations silently diverge)
    QuerySpec("q_hilbert_index", ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        col("n_chars").bitwiseAND(lit(1023L)).as("x"),
        col("doc_id").bitwiseAND(lit(1023L)).as("y"),
        graft.functions.SpatialExpressions.hilbertIndex(
          col("n_chars"), col("doc_id"), 10).as("h"))
        .orderBy("doc_id")), Sql(hilbertOracle(10))),

    // Hilbert-clustered layout: per-dimension data-skipping stats
    // on the same dims/boxes as q_zorder_skip — the no-diagonal-jump
    // walk should keep per-file boxes at least as tight as Morton's
    QuerySpec("q_hilbert_skip", ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        col("n_chars"), (col("doc_id") % 256).as("bucket2"))
      Bucketing.writeHilbert(docs, "/tmp/graft_hilbert", "n_chars",
        "bucket2", bits = 16, nFiles = 8)
      val d1 = Bucketing.zoneMapSkipStats(s, "/tmp/graft_hilbert",
        "n_chars", 100L, 150L).withColumn("dim", lit("n_chars"))
      val d2 = Bucketing.zoneMapSkipStats(s, "/tmp/graft_hilbert",
        "bucket2", 0L, 31L).withColumn("dim", lit("bucket2"))
      d1.unionByName(d2).orderBy("dim")
    }), Sql(
      """WITH zm AS (
        |  SELECT filename, CAST(count(*) AS BIGINT) AS n_rows,
        |         min(n_chars) AS mn1, max(n_chars) AS mx1,
        |         min(bucket2) AS mn2, max(bucket2) AS mx2
        |  FROM read_parquet('/tmp/graft_hilbert/*.parquet',
        |                    filename=true)
        |  GROUP BY filename),
        |d1 AS (
        |  SELECT 'n_chars' AS dim, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN mx1 < 100 OR mn1 > 150 THEN 1 ELSE 0
        |             END) AS BIGINT) AS n_files_skipped,
        |    CAST(sum(CASE WHEN mx1 < 100 OR mn1 > 150 THEN n_rows
        |             ELSE 0 END) AS BIGINT) AS n_rows_skipped
        |  FROM zm),
        |d2 AS (
        |  SELECT 'bucket2' AS dim, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN mx2 < 0 OR mn2 > 31 THEN 1 ELSE 0
        |             END) AS BIGINT) AS n_files_skipped,
        |    CAST(sum(CASE WHEN mx2 < 0 OR mn2 > 31 THEN n_rows
        |             ELSE 0 END) AS BIGINT) AS n_rows_skipped
        |  FROM zm),
        |u AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        |SELECT n_files, n_rows, n_files_skipped, n_rows_skipped,
        |  CASE WHEN n_files > 0
        |       THEN round(CAST(n_files_skipped AS DOUBLE)
        |                  / CAST(n_files AS DOUBLE), 6)
        |  END AS skip_fraction,
        |  CASE WHEN n_rows > 0
        |       THEN round(CAST(n_rows_skipped AS DOUBLE)
        |                  / CAST(n_rows AS DOUBLE), 6)
        |  END AS row_skip_fraction,
        |  dim
        |FROM u ORDER BY dim""".stripMargin)),

    // storage-layout advisors (encoding / sortedness / file skew):
    // the physical-design validation tier for a 100 TB lakehouse ----
    // per-column parquet-encoding advisor (rle / dict / plain) from run
    // structure + exact cardinality in doc_id storage order — adjacency
    // via ONE narrow equi-join on id+1 (never a SinglePartition ORDER
    // BY window) + one aggregate; approx_count_distinct is the 10^12
    // scale path (the recommendation needs one digit of cardinality)
    QuerySpec("q_encoding_audit", ((s, d) =>
      StorageAudit.encodingAudit(t(s, d, "documents"), "doc_id",
        Seq("lang", "source"))), Sql(
      """WITH n AS (
        |  SELECT doc_id, CAST(lang AS VARCHAR) AS lang,
        |         CAST(source AS VARCHAR) AS source FROM documents),
        |j AS (
        |  SELECT a.lang AS l1, b.lang AS l2, a.source AS s1,
        |         b.source AS s2, b.doc_id IS NOT NULL AS hn
        |  FROM n a LEFT JOIN n b ON b.doc_id = a.doc_id + 1),
        |agg AS (
        |  SELECT count(*) AS n_rows,
        |    count(DISTINCT l1) AS nd_lang, count(DISTINCT s1) AS nd_src,
        |    sum(CASE WHEN hn AND (l1 IS DISTINCT FROM l2)
        |             THEN 1 ELSE 0 END) AS chg_lang,
        |    sum(CASE WHEN hn AND (s1 IS DISTINCT FROM s2)
        |             THEN 1 ELSE 0 END) AS chg_src
        |  FROM j),
        |per AS (
        |  SELECT 'lang' AS col_name, n_rows, nd_lang AS nd,
        |         chg_lang AS chg FROM agg
        |  UNION ALL
        |  SELECT 'source', n_rows, nd_src, chg_src FROM agg)
        |SELECT col_name AS "column", CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(nd AS BIGINT) AS n_distinct,
        |  CAST(CASE WHEN n_rows = 0 THEN 0 ELSE chg + 1 END AS BIGINT)
        |    AS n_runs,
        |  CASE WHEN n_rows = 0 THEN NULL
        |       ELSE round(CAST(n_rows AS DOUBLE) / (chg + 1), 6) END
        |    AS avg_run_len,
        |  CASE WHEN n_rows = 0 THEN NULL
        |       ELSE round(CAST(nd AS DOUBLE) / n_rows, 6) END
        |    AS distinct_ratio,
        |  CASE WHEN n_rows = 0 THEN 'plain'
        |       WHEN round(CAST(n_rows AS DOUBLE) / (chg + 1), 6) >= 4.0
        |         THEN 'rle'
        |       WHEN round(CAST(nd AS DOUBLE) / n_rows, 6) <= 0.01
        |         THEN 'dict'
        |       ELSE 'plain' END AS encoding
        |FROM per ORDER BY "column"""".stripMargin)),

    // zone-map-effectiveness predictor: fraction of adjacent (by
    // doc_id) n_chars pairs non-decreasing — 1.0 = min/max pruning
    // works, ~0.5 = every file overlaps every predicate; same narrow
    // adjacency join as the encoding audit
    QuerySpec("q_sortedness", ((s, d) =>
      StorageAudit.sortednessAudit(t(s, d, "documents"), "doc_id",
        "n_chars")), Sql(
      """WITH n AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS v FROM documents),
        |j AS (
        |  SELECT a.v AS v1, b.v AS v2
        |  FROM n a JOIN n b ON b.doc_id = a.doc_id + 1),
        |s AS (
        |  SELECT
        |    sum(CASE WHEN v1 IS NOT NULL AND v2 IS NOT NULL
        |             THEN 1 ELSE 0 END) AS np,
        |    sum(CASE WHEN v1 IS NULL OR v2 IS NULL
        |             THEN 1 ELSE 0 END) AS nn,
        |    sum(CASE WHEN v1 IS NOT NULL AND v2 IS NOT NULL AND v2 >= v1
        |             THEN 1 ELSE 0 END) AS nd
        |  FROM j)
        |SELECT CAST(np AS BIGINT) AS n_pairs,
        |  CAST(nn AS BIGINT) AS n_null_pairs,
        |  CAST(nd AS BIGINT) AS n_nondecreasing,
        |  CASE WHEN np = 0 THEN NULL
        |       ELSE round(CAST(nd AS DOUBLE) / np, 6) END
        |    AS sorted_fraction
        |FROM s""".stripMargin)),

    // small-files / straggler-file audit of a lang-partitioned layout
    // (repartition-by-key before partitionBy ⇒ exactly one file per
    // lang, skewed by construction): per-file counts from ONE
    // input_file_name aggregate, summary on the O(files) frame
    QuerySpec("q_file_skew", ((s, d) => {
      t(s, d, "documents").repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang")
        .parquet("/tmp/graft_fileskew")
      StorageAudit.fileSkew(s, "/tmp/graft_fileskew")
    }), Sql(
      """WITH pf AS (
        |  SELECT filename, CAST(count(*) AS BIGINT) AS n
        |  FROM read_parquet('/tmp/graft_fileskew/*/*.parquet',
        |                    filename=true)
        |  GROUP BY filename),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_files,
        |         CAST(sum(n) AS BIGINT) AS n_rows,
        |         CAST(min(n) AS BIGINT) AS rows_min,
        |         CAST(max(n) AS BIGINT) AS rows_max,
        |         avg(n) AS a
        |  FROM pf)
        |SELECT n_files, n_rows, rows_min, rows_max,
        |  round(a, 6) AS rows_avg,
        |  round(CAST(rows_max AS DOUBLE) / a, 6) AS skew,
        |  CAST((SELECT count(*) FROM pf, s
        |        WHERE CAST(pf.n AS DOUBLE) < 0.5 * s.a) AS BIGINT)
        |    AS n_small_files
        |FROM s""".stripMargin)),
  )
}
