package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the driver checks a query's result. */
sealed trait Oracle

/** A DuckDB statement over the same parquet tables, with the same
  * aliases and ORDER BY as the Spark plan. */
final case class Sql(text: String) extends Oracle

/** No SQL oracle (hash-seed-specific, sketch-approximate or not
  * SQL-expressible): the driver records a rows-only check. */
final case class RowsOnly(reason: String) extends Oracle

/** One driver query: its Spark build over an sf directory, defined next
  * to its oracle. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle)
