package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ValidationPass
import graft.queries._
import graft.sources.SeqTableGen

/** Driver contract — one [[queries.QuerySpec]] per implemented operator
  * (SURVEY.md §2 + the training-pipeline additions). Each query is
  * defined once, in a `graft.queries` family object, next to its DuckDB
  * oracle where ANSI-SQL-expressible, or marked rows-only with a reason.
  * Every query orders its rows and aliases every computed column
  * identically on both sides (the driver compare hashes values under
  * sorted column names).
  */
object SparkEntry {

  /** Flagship: full constraint suite over the deterministic tokenized-
    * sequence table — per-rule violation counts (driver smoke-checks
    * rows > 0 on sf0.001). */
  def entry(spark: SparkSession): DataFrame = {
    val df = SeqTableGen.generate(spark, 50000)
    ValidationPass.seqViolations(
        df, ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources))
      .groupBy("rule_id").agg(count(lit(1)).as("n_violations"))
      .orderBy("rule_id")
  }

  /** Every driver query, family by family. */
  val specs: Seq[QuerySpec] = Seq(
    ProfileQueries.specs, DriftQueries.specs, EventQueries.specs,
    TextQueries.specs, DedupQueries.specs, EmbeddingQueries.specs,
    SeqQueries.specs, CurationQueries.specs, LayoutQueries.specs).flatten

  private val duplicates = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
  require(duplicates.isEmpty, s"query names defined twice: ${duplicates.toSeq.sorted.mkString(", ")}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  /** The DuckDB oracle of every query that has one (rows-only ones are
    * absent, as the driver expects). */
  val oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(name, _, Sql(text)) => name -> text }.toMap
}
