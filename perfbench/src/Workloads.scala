package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cli.Main

/** One benchmark workload: how to make its inputs, run one op, check
  * the op's outputs and say how much work the op covered. */
trait Workload {
  def name: String
  /** Worker threads of the local master. */
  def cores: Int
  /** Session config of the entry point the workload stands in for. */
  def conf: Seq[(String, String)]
  /** Generates the inputs under `dir`, replacing earlier ones. */
  def generate(spark: SparkSession, dir: Path): Unit
  /** Computes the output expectations of the last generated inputs;
    * returns their provenance. */
  def expect(spark: SparkSession): Seq[Map[String, Any]]
  /** Untimed: puts the outputs in the state the next op starts from. */
  def reset(): Unit
  /** The timed op; every job it starts runs under job group `group`. */
  def run(spark: SparkSession, group: String): Unit
  /** Mismatches of the last op's outputs; empty when correct. */
  def check(spark: SparkSession): Seq[String]
  /** Input rows the op has to process. */
  def inputRows: Long
  /** Units the op completes: partitions committed, or queries run. */
  def units: Long
  def manifest: Option[Path]
  /** Partitions the op commits, for the manifest replay probe. */
  def committed: Seq[String]
  /** Sequence table for the standalone operator probes. */
  def probeTable(spark: SparkSession, dir: Path): DataFrame
  /** The queries of the last op (suite only). */
  def lastQueries: Seq[Workloads.QueryRun] = Nil
}

object Workloads {

  final case class Scale(rows: Long, buckets: Int, fineRows: Long, fineBuckets: Int,
                         docs: Long, lineitems: Long)

  /** One query of a suite op: wall seconds, job group, output row count and digest. */
  final case class QueryRun(query: String, secs: Double, group: String, rows: Long, digest: String)

  val Full = Scale(rows = 50000, buckets = 4, fineRows = 9600, fineBuckets = 96,
    docs = 5000, lineitems = 600000)
  val Smoke = Scale(rows = 20000, buckets = 4, fineRows = 4000, fineBuckets = 8,
    docs = 200, lineitems = 6000)

  /** Two of the ROADMAP's job-heavy queries (iterative graph scoring;
    * eleven driver actions), then two few-job contrast queries. */
  val SuiteQueries: Seq[String] = Seq("q_hits", "q_bpe_fertility", "q_seq_violations",
    "q_exact_median")

  /** `scaleName` is `full` or `smoke`. */
  def apply(name: String, scaleName: String, seed: Long, cpus: Int,
            pins: Map[String, (Long, String)]): Workload = {
    val scale = if (scaleName == "smoke") Smoke else Full
    name match {
      case "batch-coarse" => new Validate(name, scale.rows, scale.buckets, resume = false, seed)
      case "batch-fine-resume" => new Validate(name, scale.fineRows, scale.fineBuckets, resume = true, seed)
      case "suite-jobheavy" => new Suite(scale, scaleName, seed, cpus, pins)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private val devNull = new PrintStream(OutputStream.nullOutputStream())

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** `Main.main`'s session config (shuffle partitions 32, nested-column
    * vectorized reader, AQE, UTC) on a fixed local[4] master. */
  private val MainConf = Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.parquet.enableNestedColumnVectorizedReader" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** `validate-batch` over a seeded partitioned sequence table. With
    * `resume`, every op is a crash resume: the manifest of a full run is
    * cut back to every other partition before the op, so the op prunes
    * half the partitions and commits the other half. Otherwise every op
    * starts from an empty output directory and manifest. */
  final class Validate(val name: String, rows: Long, buckets: Int, resume: Boolean,
                       seed: Long) extends Workload {
    val cores = 4
    val conf: Seq[(String, String)] = MainConf
    private var input: Path = _
    private var opDir: Path = _
    private var expected: Map[String, Gate.Part] = Map.empty
    private var fullLines: Seq[(String, String)] = Nil

    private def out = opDir.resolve("out")
    private def mf = opDir.resolve("manifest.jsonl")
    private def partitions = expected.keys.toSeq.sortBy(_.toInt)
    def committed: Seq[String] =
      if (resume) partitions.zipWithIndex.collect { case (p, i) if i % 2 == 1 => p } else partitions
    def inputRows: Long = committed.map(expected(_).rows).sum
    def units: Long = committed.size.toLong
    def manifest: Option[Path] = Some(mf)

    def generate(spark: SparkSession, dir: Path): Unit = {
      input = dir.resolve("input")
      opDir = dir.resolve("op")
      // the fine table is written by one task: one file per partition
      Inputs.writeSeqTable(spark, input, rows, buckets, seed, tasks = if (resume) 1 else 0)
    }

    def expect(spark: SparkSession): Seq[Map[String, Any]] = {
      val (parts, digest) = Gate.expected(spark.read.parquet(input.toString))
      expected = parts
      fullLines = Nil
      Seq(Map("table" -> "seq", "rows" -> parts.values.map(_.rows).sum,
        "partitions" -> parts.size, "files" -> Inputs.parquetFiles(input), "digest" -> digest))
    }

    def reset(): Unit =
      if (resume && fullLines.nonEmpty) {
        val keep = partitions.zipWithIndex.collect { case (p, i) if i % 2 == 0 => p }.toSet
        Files.write(mf, fullLines.filter(l => keep(l._1)).map(_._2).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
      } else deleteTree(opDir)

    def run(spark: SparkSession, group: String): Unit = {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      try Console.withOut(devNull) {
        Main.validateBatch(spark, input.toString, out.toString, Some(mf.toString))
      } finally spark.sparkContext.clearJobGroup()
      if (resume && fullLines.isEmpty)
        fullLines = Gate.readManifest(mf).map(_.partition)
          .zip(Files.readAllLines(mf, StandardCharsets.UTF_8).asScala.filter(_.trim.nonEmpty))
    }

    def check(spark: SparkSession): Seq[String] =
      Gate.check(spark, expected, out.resolve("violations"), mf)

    def probeTable(spark: SparkSession, dir: Path): DataFrame = spark.read.parquet(input.toString)
  }

  /** One op is one pass over [[SuiteQueries]] into the noop sink, under
    * `graft.Bench`'s session config with local[cpus]. Each query's row
    * count and digest ride the pass as observed metrics and are checked
    * against the values pinned for this input variant. */
  final class Suite(scale: Scale, scaleName: String, seed: Long, cpus: Int,
                    pins: Map[String, (Long, String)]) extends Workload {
    val name = "suite-jobheavy"
    val cores: Int = cpus
    val conf: Seq[(String, String)] = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.parquet.enableNestedColumnVectorizedReader" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC")
    /** Suite inputs come in four variants so their outputs can be pinned. */
    val variant: Long = Math.floorMod(seed, 4L)
    /** Prefix of this variant's entries in the pins file. */
    val pinKey = s"$scaleName/v$variant"
    private var sfDir: Path = _
    private var rows = 0L
    private var last: Seq[QueryRun] = Nil

    def inputRows: Long = rows
    def units: Long = SuiteQueries.size.toLong
    def manifest: Option[Path] = None
    def committed: Seq[String] = Nil
    def results: Map[String, (Long, String)] = last.map(q => q.query -> (q.rows, q.digest)).toMap
    override def lastQueries: Seq[QueryRun] = last

    def generate(spark: SparkSession, dir: Path): Unit = {
      sfDir = dir.resolve("sf")
      Inputs.writeSuiteTables(spark, sfDir, scale.docs, scale.lineitems, variant)
    }

    def expect(spark: SparkSession): Seq[Map[String, Any]] = {
      val prov = Seq("documents", "lineitem").map { t =>
        Inputs.provenance(spark, t, sfDir.resolve(s"$t.parquet")) + ("variant" -> variant)
      }
      rows = prov.map(_("rows").asInstanceOf[Long]).sum
      prov
    }

    def reset(): Unit = ()

    def run(spark: SparkSession, group: String): Unit = {
      val queries = SparkEntry.queries
      last = SuiteQueries.map { q =>
        val g = s"$group/$q"
        spark.sparkContext.setJobGroup(g, q, interruptOnCancel = false)
        val t0 = System.nanoTime()
        try {
          val df = queries(q)(spark, sfDir.toString)
          val obs = Observation()
          df.observe(obs, count(lit(1)).as("n"), Inputs.hashSum(df).as("h"))
            .write.format("noop").mode("overwrite").save()
          val m = obs.get
          val h = Option(m("h")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0")
          QueryRun(q, (System.nanoTime() - t0) / 1e9, g, m("n").asInstanceOf[Long], h)
        } finally spark.sparkContext.clearJobGroup()
      }
    }

    /** Every query's output against its pin. */
    def check(spark: SparkSession): Seq[String] =
      results.toSeq.sortBy(_._1).flatMap { case (q, out) =>
        pins.get(s"$pinKey/$q") match {
          case None => Seq(s"$q: no pinned output for $pinKey")
          case Some(want) if want != out => Seq(s"$q: expected $want, found $out")
          case _ => Nil
        }
      }

    def probeTable(spark: SparkSession, dir: Path): DataFrame = {
      val p = dir.resolve("probe-seq")
      if (!Files.exists(p)) Inputs.writeSeqTable(spark, p, scale.docs * 20, 4, seed, tasks = 0)
      spark.read.parquet(p.toString)
    }
  }
}
