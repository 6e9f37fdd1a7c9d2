package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout advisors: the storage-side validation tier that
  * decides HOW a 100 TB table should sit on disk before anyone queries
  * it. [[encodingAudit]] measures per-column run structure and
  * cardinality to recommend a parquet encoding, [[sortednessAudit]]
  * measures how zone-map-friendly a layout already is, and
  * [[fileSkew]] surfaces the small-files / straggler-file problem that
  * silently serializes a 1000-executor scan.
  *
  * All three share the narrow-frame discipline: the adjacency audits
  * ship only (id, audited columns) through one equi-join on id+1 —
  * never a global `ORDER BY` window (SinglePartition is the repo's
  * pinned anti-pattern) — and the file audit aggregates
  * `input_file_name()` in one scan, O(files) result rows.
  */
object StorageAudit {

  /** Per-column encoding advisor over the table's `idCol` storage
    * order: run count, average run length, and exact distinct count,
    * folded into a parquet-encoding recommendation — `rle` when values
    * repeat in long runs (avg run ≥ `rleRunLen`), `dict` when the
    * column is low-cardinality (distinct/rows ≤ `dictRatio`), `plain`
    * otherwise. The decision a columnar writer makes implicitly;
    * surfacing it per column is how a layout review catches "this
    * sorted-by-the-wrong-key table dictionary-encodes what should
    * RLE".
    *
    * Adjacency without a global sort: `idCol` must be DENSE (0..n-1,
    * the contract of a post-compaction ordinal id); row i pairs with
    * row i+1 via one narrow equi-join of (id, cols) against
    * (id−1, cols) — shuffles only the audited columns, scales as a
    * plain hash join, and AQE splits any skew. Run boundaries use
    * null-safe equality so NULL runs count like value runs. Distinct
    * counts are exact (this is the oracle-parity companion; swap in
    * `approx_count_distinct` at 10^12 rows — the recommendation only
    * needs one significant digit of cardinality).
    *
    * Returns one row per audited column:
    * (column, n_rows, n_distinct, n_runs, avg_run_len, distinct_ratio,
    * encoding), ordered by column name. */
  def encodingAudit(df: DataFrame, idCol: String, cols: Seq[String],
                    rleRunLen: Double = 4.0,
                    dictRatio: Double = 0.01): DataFrame = {
    require(cols.nonEmpty, "encodingAudit needs at least one column")
    val narrow = df.select(
      (col(idCol).cast("long").as("__id") +:
        cols.map(c => col(c).cast("string").as(c))): _*)
    val next = narrow.select(
      ((col("__id") - 1).as("__id") +:
        (lit(true).as("__has_next") +:
          cols.map(c => col(c).as(s"__next_$c")))): _*)
    val paired = narrow.join(next, Seq("__id"), "left")
    val aggs = cols.flatMap { c =>
      Seq(
        countDistinct(col(c)).as(s"__nd_$c"),
        sum(when(col("__has_next") && !(col(c) <=> col(s"__next_$c")),
          1L).otherwise(0L)).as(s"__chg_$c"))
    }
    val one = paired.agg(count(lit(1)).as("__n"), aggs: _*)
    val perCol = cols.map { c =>
      one.select(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nd_$c").as("n_distinct"),
        (col(s"__chg_$c") + lit(1)).as("n_runs"),
        col(s"__chg_$c").as("__chg"))
    }.reduce(_.unionByName(_))
    perCol.select(col("column"), col("n_rows"), col("n_distinct"),
        when(col("n_rows") === 0, lit(0L)).otherwise(col("n_runs"))
          .as("n_runs"),
        when(col("n_rows") === 0, lit(null: java.lang.Double))
          .otherwise(round(col("n_rows").cast("double") /
            (col("__chg") + lit(1)), 6)).as("avg_run_len"),
        when(col("n_rows") === 0, lit(null: java.lang.Double))
          .otherwise(round(col("n_distinct").cast("double") /
            col("n_rows"), 6)).as("distinct_ratio"))
      .withColumn("encoding",
        when(col("n_rows") === 0, lit("plain"))
          .when(col("avg_run_len") >= rleRunLen, lit("rle"))
          .when(col("distinct_ratio") <= dictRatio, lit("dict"))
          .otherwise(lit("plain")))
      .orderBy("column")
  }

  /** Sortedness of `valCol` in the table's `idCol` storage order: the
    * fraction of adjacent row pairs that are non-decreasing — the
    * one-number predictor of zone-map effectiveness (1.0 = perfectly
    * clustered, min/max pruning works; ~0.5 = random, every file
    * overlaps every predicate; see [[graft.sources.Bucketing.zoneMap]]
    * for the per-file measurement after a re-sort). Pairs with a NULL
    * on either side are excluded from the fraction but reported, so a
    * sparse column can't fake sortedness. Same dense-id adjacency
    * join as [[encodingAudit]] — one narrow shuffle, no global sort.
    *
    * Returns one row: (n_pairs, n_null_pairs, n_nondecreasing,
    * sorted_fraction). */
  def sortednessAudit(df: DataFrame, idCol: String,
                      valCol: String): DataFrame = {
    val narrow = df.select(col(idCol).cast("long").as("__id"),
      col(valCol).cast("double").as("__v"))
    val next = narrow.select((col("__id") - 1).as("__id"),
      col("__v").as("__vn"), lit(true).as("__has_next"))
    narrow.join(next, Seq("__id"), "inner")
      .agg(
        sum(when(col("__v").isNotNull && col("__vn").isNotNull, 1L)
          .otherwise(0L)).as("n_pairs"),
        sum(when(col("__v").isNull || col("__vn").isNull, 1L)
          .otherwise(0L)).as("n_null_pairs"),
        sum(when(col("__v").isNotNull && col("__vn").isNotNull &&
          col("__vn") >= col("__v"), 1L).otherwise(0L))
          .as("n_nondecreasing"))
      .select(col("n_pairs"), col("n_null_pairs"), col("n_nondecreasing"),
        when(col("n_pairs") === 0, lit(null: java.lang.Double))
          .otherwise(round(col("n_nondecreasing").cast("double") /
            col("n_pairs"), 6)).as("sorted_fraction"))
  }

  /** Small-files / file-skew audit of a written parquet dataset: per-
    * file row counts from ONE `input_file_name()` aggregate (no
    * filesystem listing, no per-file jobs), summarized to the numbers
    * a compaction decision needs — file count, min/max/avg rows,
    * `skew` = max/avg (the straggler factor: one 20× file makes a
    * 1000-task scan wait on one task), and `n_small_files` below
    * `smallFrac`·avg (the open-cost tax: 10^6 tiny files at 100 TB is
    * a listing + scheduling bottleneck before a single byte is read).
    * Two passes over the O(files) frame only; the data is scanned
    * once.
    *
    * Returns one row: (n_files, n_rows, rows_min, rows_max, rows_avg,
    * skew, n_small_files). */
  def fileSkew(spark: SparkSession, path: String,
               smallFrac: Double = 0.5): DataFrame = {
    // pin the O(files) per-file counts: `perFile` feeds both the
    // summary subtree and the outer aggregate, which — without the
    // checkpoint — re-scanned the whole parquet dataset (the round-5
    // ADVICE item: the docstring promised one scan, the plan ran two).
    // The pinned frame is one row per file; the result is 1 row, so it
    // materializes eagerly and the blocks release before returning.
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name().as("__f"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val summary = perFile.agg(
      count(lit(1)).as("n_files"), sum(col("n")).as("n_rows"),
      min(col("n")).as("rows_min"), max(col("n")).as("rows_max"),
      avg(col("n")).as("__avg"))
    val out = perFile.crossJoin(broadcast(summary))
      .agg(first(col("n_files")).as("n_files"),
        first(col("n_rows")).as("n_rows"),
        first(col("rows_min")).as("rows_min"),
        first(col("rows_max")).as("rows_max"),
        round(first(col("__avg")), 6).as("rows_avg"),
        round(first(col("rows_max")).cast("double") /
          first(col("__avg")), 6).as("skew"),
        sum(when(col("n").cast("double") <
          lit(smallFrac) * col("__avg"), 1L).otherwise(0L))
          .as("n_small_files"))
    val rows = out.collect()
    graft.operators.Packing.releaseOffsets(perFile)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), out.schema)
  }
}
