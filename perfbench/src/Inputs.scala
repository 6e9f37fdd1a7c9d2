package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.sources.SeqTableGen

/** Seeded inputs and their provenance. */
object Inputs {

  /** Columns of `df` as hashed by [[digest]]: doubles at float precision,
    * so a digest does not depend on the order a sum was added up in. */
  def digestColumns(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case DoubleType | FloatType => col(f.name).cast("float")
      case ArrayType(DoubleType | FloatType, _) => transform(col(f.name), _.cast("float"))
      case _ => col(f.name)
    }
  }

  /** Order-insensitive content digest of `df`'s rows, as an aggregate:
    * the sum of one 64-bit hash per row (null on no rows). */
  def hashSum(df: DataFrame): Column =
    sum(xxhash64(digestColumns(df): _*).cast("decimal(20,0)"))

  /** Row count and [[hashSum]] of `df`. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)), coalesce(hashSum(df), lit(0).cast("decimal(30,0)"))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def parquetFiles(dir: Path): Int = {
    val s = Files.walk(dir)
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Provenance of one generated table, as it lands in the run record. */
  def provenance(spark: SparkSession, name: String, dir: Path): Map[String, Any] = {
    val (rows, dig) = digest(spark.read.parquet(dir.toString))
    Map("table" -> name, "rows" -> rows, "files" -> parquetFiles(dir), "digest" -> dig)
  }

  /** The engine's own generator, written by the engine's own partitioned
    * writer: a change to either shows as different input provenance.
    * `tasks` generating tasks (0: the session default) each write one
    * file per bucket. */
  def writeSeqTable(spark: SparkSession, dir: Path, rows: Long, buckets: Int, seed: Long,
                    tasks: Int): Unit =
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, rows, seed, numPartitions = tasks),
      dir.toString, buckets)

  private val Words: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  /** Suite tables with the columns the measured queries read, drawn
    * like the sf test tables the queries were written for (measured on
    * sf0.1): documents (doc_id, text, lang, source, n_chars) with 10-100
    * words per text drawn uniformly from the same 30 words, 5% of texts
    * ending in " dup", lang en at 3/7 and es/zh/de/fr at 1/7 each,
    * source `src<doc_id % 20>`; lineitem (l_orderkey, l_partkey,
    * l_quantity) with order keys drawn from lineitems / 4 values, part
    * keys from lineitems / 30 and quantities from 1-50. Each is one
    * parquet file, as the sf tables are. */
  def writeSuiteTables(spark: SparkSession, dir: Path, docs: Long, lineitems: Long,
                       seed: Long): Unit = {
    def h(id: Column, salt: Int, m: Long): Column = pmod(xxhash64(id, lit(seed), lit(salt)), lit(m))
    val id = col("id")
    val nWords = h(id, 1, 91) + 10
    val words = transform(sequence(lit(1), nWords.cast("int")), i =>
      element_at(array(Words.map(lit): _*),
        (pmod(xxhash64(id, i, lit(seed)), lit(Words.size.toLong)) + 1).cast("int")))
    // one doc in 20 carries a trailing "dup" marker, as the sf tables do
    val text = when(h(id, 2, 20) === 0, concat(array_join(words, " "), lit(" dup")))
      .otherwise(array_join(words, " "))
    val documents = spark.range(docs).select(
      id.as("doc_id"),
      text.as("text"),
      element_at(array(Seq("en", "en", "en", "es", "zh", "de", "fr").map(lit): _*),
        (h(id, 3, 7) + 1).cast("int")).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val lineitem = spark.range(lineitems).select(
      h(id, 9, math.max(1L, lineitems / 4)).as("l_orderkey"),
      h(id, 10, math.max(1L, lineitems / 30)).as("l_partkey"),
      (h(id, 11, 50) + 1).cast("double").as("l_quantity"))
    Seq("documents" -> documents, "lineitem" -> lineitem).foreach {
      case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    }
  }
}
