package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output gate of the validate workloads. The expected violations are
  * computed here from the rule definitions, with plain Spark
  * expressions and without the engine's operators, so a change to the
  * engine cannot move the expectation along with the result. */
object Gate {

  val VocabSize = 50000
  val Sources: Seq[String] = Seq("web", "books", "code", "wiki")
  val RefAllowlist: Seq[String] = Seq("web", "books", "code")

  /** Row-level violation predicate of every rule except uniqueness. */
  private def rowRules: Seq[(String, Column)] = Seq(
    "R_NONNULL_DOCID" -> (col("doc_id").isNull || trim(col("doc_id"), " \t\n\r\f\u000b") === ""),
    "R_REGEX_DOCID" -> !coalesce(
      length(col("doc_id")) === 16 && col("doc_id").startsWith("doc_") &&
        regexp_replace(substring(col("doc_id"), 5, 12), "[0-9]", "") === "", lit(false)),
    "R_NTOK_EQ_SIZE" -> !coalesce(col("n_tok") === size(col("tokens")), lit(false)),
    "R_TOKEN_RANGE" -> !coalesce(size(col("tokens")) > 0 &&
      forall(col("tokens"), t => t.isNotNull && t >= 0 && t < VocabSize), lit(false)),
    "R_ENUM_SOURCE" -> !coalesce(col("source").isin(Sources: _*), lit(false)),
    "R_REF_SOURCE" -> !coalesce(col("source").isin(RefAllowlist: _*), lit(false)))

  val Rules: Seq[String] = rowRules.map(_._1) :+ "R_UNIQUE_DOCID"

  /** What a validate run must produce for one partition. */
  final case class Part(rows: Long, byRule: Map[String, Long]) {
    def violations: Long = byRule.values.sum
  }

  /** Expected rows and per-rule violation counts of every partition,
    * and the table's order-insensitive digest (see [[Inputs.digest]]),
    * from one scan. Every row whose non-null doc_id occurs more than
    * once in the table is one uniqueness violation. */
  def expected(input: DataFrame): (Map[String, Part], String) = {
    val keyCount = when(col("doc_id").isNotNull, count(lit(1)).over(Window.partitionBy("doc_id")))
    val aggs = rowRules.map { case (r, v) => sum(when(v, 1L).otherwise(0L)).as(r) } ++ Seq(
      sum(when(col("__n") > 1, 1L).otherwise(0L)).as("R_UNIQUE_DOCID"),
      Inputs.hashSum(input).as("__digest"))
    val rows = input.withColumn("__n", keyCount)
      .groupBy("part_bucket").agg(count(lit(1)).as("__rows"), aggs: _*)
      .collect()
    val parts = rows.map { r =>
      r.get(0).toString -> Part(r.getAs[Long]("__rows"),
        Rules.map(rule => rule -> r.getAs[Long](rule)).toMap)
    }.toMap
    (parts, rows.map(_.getAs[java.math.BigDecimal]("__digest")).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      .toPlainString)
  }

  final case class ManifestEntry(partition: String, rows: Long, violations: Long,
                                 pass: Boolean, files: Int)

  private val mapper = new ObjectMapper()

  def readManifest(path: Path): Seq[ManifestEntry] =
    if (!Files.exists(path)) Nil
    else Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.trim.nonEmpty).map { line =>
        val n = mapper.readTree(line)
        ManifestEntry(n.get("partition").asText, n.get("rows").asLong,
          n.get("violations").asLong, n.get("pass").asBoolean, n.get("files").size)
      }

  /** Mismatches between a validate run's sink and manifest and the
    * expectation; empty when the run is correct. */
  def check(spark: SparkSession, expect: Map[String, Part], sink: Path,
            manifest: Path): Seq[String] = {
    val observed = spark.read.parquet(sink.toString)
      .groupBy("part_bucket", "rule_id").agg(count(lit(1)))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val sinkErrors = (for {
      (p, part) <- expect.toSeq
      rule <- Rules
      want = part.byRule(rule)
      got = observed.getOrElse((p, rule), 0L)
      if want != got
    } yield s"sink partition $p $rule: expected $want, found $got") ++
      observed.keys.filterNot(k => expect.contains(k._1)).map(k => s"sink has unknown partition ${k._1}")
    val entries = readManifest(manifest)
    val byPart = entries.map(e => e.partition -> e).toMap
    val manifestErrors = expect.toSeq.flatMap { case (p, part) =>
      byPart.get(p) match {
        case None => Seq(s"manifest lacks partition $p")
        case Some(e) =>
          val want = (part.rows, part.violations, part.violations == 0)
          val got = (e.rows, e.violations, e.pass)
          (if (want != got) Seq(s"manifest partition $p: expected $want, found $got") else Nil) ++
            (if (e.files == 0) Seq(s"manifest partition $p lists no files") else Nil)
      }
    } ++ (if (entries.size != expect.size)
      Seq(s"manifest has ${entries.size} entries for ${expect.size} partitions") else Nil)
    sinkErrors ++ manifestErrors
  }
}
