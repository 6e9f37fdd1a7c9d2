package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.checkpoint.Manifest
import graft.operators.{Uniqueness, ValidationPass}
import graft.sources.SeqTableGen

/** One benchmark run: set up a workload, run its op in a closed loop
  * with one client for the given seconds, check every op's outputs and
  * print one JSON result line.
  *
  * Usage: Run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *            --work <dir> --record <file> --pins <file> --cpus <n>
  *            [--scale full|smoke] [--pin-out <file>]
  *
  * Untraced runs report the end-to-end metrics. A traced run alternates
  * traced and untraced ops, reports the per-layer metrics of the traced
  * ones and writes their spans next to the run record. */
object Run {

  val SetupReps = 3
  val WarmupOps = 1
  val MinOps = 2

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s_p50" -> "s", "rows_per_s" -> "rows/s",
    "partitions_per_s" -> "partitions/s", "ok_ratio" -> "ratio", "retained_heap_mb" -> "MB")

  val LayerUnits: Seq[(String, String)] = Seq(
    "catalyst.plan_s" -> "s", "codegen.compile_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.tasks_per_stage" -> "ratio", "cli.Main.driver_gap_s" -> "s",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.busy_ratio" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes", "shuffle.spill_bytes" -> "bytes",
    "sources.scan_rows" -> "count", "sources.scan_bytes" -> "bytes",
    "sources.scans_per_input_row" -> "ratio",
    "sinks.rows" -> "count", "sinks.files" -> "count", "sinks.write_bytes" -> "bytes",
    "checkpoint.Manifest.load_s" -> "s", "checkpoint.Manifest.commit_replay_s" -> "s",
    "checkpoint.Manifest.bytes" -> "bytes",
    "operators.ValidationPass.pass_s" -> "s", "operators.Uniqueness.agg_s" -> "s") ++
    Workloads.SuiteQueries.flatMap(q => Seq(s"SparkEntry.$q.s" -> "s", s"SparkEntry.$q.jobs" -> "count"))

  final case class OpResult(ok: Boolean, secs: Double, startMs: Long, endMs: Long,
                            stats: Option[OpStats])

  final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
                        attrs: Map[String, Any])

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val record = Paths.get(opt("record")).toAbsolutePath
    val cpus = opt("cpus").toInt
    val scaleName = opts.getOrElse("scale", "full")
    val pins = readPins(Paths.get(opt("pins")))
    val load0 = loadAvg

    val wl = Workloads(workloadName, scaleName, seed, cpus, pins)
    Workloads.deleteTree(work)
    Files.createDirectories(work)
    val tSession = System.nanoTime()
    val builder = SparkSession.builder().master(s"local[${wl.cores}]").appName(s"perfbench-${wl.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    wl.conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(tSession)

    // input generation is repeated and its median reported, so that work
    // moved into set-up shows; the last repetition's inputs are used
    val genS = (1 to SetupReps).map { k =>
      val s = timed(wl.generate(spark, work.resolve(s"setup-$k")))._2
      if (k > 1) Workloads.deleteTree(work.resolve(s"setup-${k - 1}"))
      s
    }
    val (provs, expectS) = timed(wl.expect(spark))
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val tracer = if (trace) Some(new Tracer(spark)) else None
    /** Runs one op and checks its outputs; the op's time excludes the
      * untimed reset before it and the check after it. */
    def runOp(group: String, traceOp: Boolean): OpResult = {
      attempted += 1
      wl.reset()
      val started = if (traceOp) Some(tracer.get.start()) else None
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val threw = try { wl.run(spark, group); None } catch {
        case scala.util.control.NonFatal(e) => Some(e)
      }
      val s = secs(t0)
      val endMs = System.currentTimeMillis()
      val stats = started.map(_ => tracer.get.finish())
      val errs = threw.map(e => Seq(s"failed: $e")).getOrElse(wl.check(spark))
      failures ++= errs.take(20).map(e => s"op $group: $e")
      if (errs.nonEmpty) failed += 1
      OpResult(errs.isEmpty, s, startMs, endMs, stats)
    }
    val warmS = (1 to WarmupOps).map(k => runOp(s"${Tracer.OpGroupPrefix}-warmup$k", traceOp = false).secs)
    val setupS = sessionS + median(genS) + expectS + warmS.sum

    val spans = mutable.ArrayBuffer.empty[Span]
    val opTimes = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val untracedTimes = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val probeDir = work.resolve("probe")
    val tMeasure = System.nanoTime()
    var i = 0
    while (i < MinOps || secs(tMeasure) < seconds) {
      val traceOp = tracer.isDefined && i % 2 == 0
      val r = runOp(s"${Tracer.OpGroupPrefix}-$i", traceOp)
      if (r.ok) {
        opTimes += r.secs
        (if (traceOp) tracedTimes else untracedTimes) += r.secs
      }
      val (startMs, endMs) = (r.startMs, r.endMs)
      r.stats.foreach { st =>
        val opSpan = spans.size + 1
        spans += Span(opSpan, 0, s"op ${wl.name}", startMs, endMs,
          Map("op" -> i, "ok" -> r.ok))
        st.jobSpans.foreach { case (job, g, s0, s1) =>
          spans += Span(spans.size + 1, opSpan, "job", s0, s1, Map("job" -> job, "group" -> g))
        }
        st.queries.foreach { case (f, end, ns, planNs) =>
          spans += Span(spans.size + 1, opSpan, s"sql $f", end - ns / 1000000L, end,
            Map("plan_s" -> planNs / 1e9))
        }
        val (mfProbe, probeSpans) = manifestProbe(wl, probeDir.resolve(s"manifest-$i.jsonl"))
        probeSpans.foreach(s => spans += s.copy(id = spans.size + 1, parent = opSpan))
        val queries = wl.lastQueries.flatMap { q =>
          Seq(s"SparkEntry.${q.query}.s" -> q.secs, s"SparkEntry.${q.query}.jobs" -> st.jobsInGroup(q.group).toDouble)
        }.toMap
        val wall = (endMs - startMs) / 1000.0
        val runS = st.runMs / 1000.0
        layer += Map(
          "catalyst.plan_s" -> st.planNs / 1e9,
          "codegen.compile_s" -> st.codegenNs / 1e9,
          "scheduler.jobs" -> st.jobs.toDouble,
          "scheduler.stages" -> st.stages.toDouble,
          "scheduler.tasks" -> st.tasks.toDouble,
          "scheduler.tasks_per_stage" -> st.tasks.toDouble / math.max(1, st.stages),
          "cli.Main.driver_gap_s" -> st.driverGapS(startMs, endMs),
          "executor.run_s" -> runS,
          "executor.cpu_s" -> st.cpuNs / 1e9,
          "executor.gc_s" -> st.gcMs / 1000.0,
          "executor.busy_ratio" -> runS / (wall * wl.cores),
          "shuffle.write_bytes" -> st.shuffleWrite.toDouble,
          "shuffle.read_bytes" -> st.shuffleRead.toDouble,
          "shuffle.spill_bytes" -> st.spill.toDouble,
          "sources.scan_rows" -> st.inRecords.toDouble,
          "sources.scan_bytes" -> st.inBytes.toDouble,
          "sources.scans_per_input_row" -> st.inRecords.toDouble / wl.inputRows,
          "sinks.rows" -> st.outRecords.toDouble,
          "sinks.files" -> st.files.toDouble,
          "sinks.write_bytes" -> st.outBytes.toDouble) ++ mfProbe ++
          Workloads.SuiteQueries.flatMap(q => Seq(s"SparkEntry.$q.s" -> 0.0, s"SparkEntry.$q.jobs" -> 0.0)) ++
          queries
      }
      i += 1
    }
    val measureS = secs(tMeasure)

    val operatorProbes = if (trace) operatorProbe(spark, wl, probeDir, spans) else Map.empty[String, Double]
    // Spark frees unpersisted blocks and unreferenced shuffles
    // asynchronously after a collection, so collect until the heap
    // stops shrinking
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val opP50 = if (opTimes.nonEmpty) median(opTimes.toSeq) else 0.0
    def perOp(x: Double): Double = if (opP50 > 0) x / opP50 else 0.0
    val okRatio = (attempted - failed).toDouble / attempted
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val values = Map(
          "setup_s" -> setupS, "op_s_p50" -> opP50, "rows_per_s" -> perOp(wl.inputRows.toDouble),
          "partitions_per_s" -> perOp(wl.units.toDouble), "ok_ratio" -> okRatio, "retained_heap_mb" -> heapMb)
        EndToEndUnits.map { case (n, u) => (n, u, values(n)) }
      } else LayerUnits.map { case (n, u) =>
        (n, u, operatorProbes.getOrElse(n, median(layer.toSeq.map(_(n)))))
      }
    val correct = failures.isEmpty && opTimes.nonEmpty
    val result = Map(
      "correct" -> correct, "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, u, v) =>
        n -> Map("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> u)
      }.toMap)

    val context = Map(
      "nproc" -> cpus, "load_avg_start" -> load0, "load_avg_end" -> loadAvg,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "master" -> spark.sparkContext.master,
      "session_config" -> wl.conf.toMap,
      "jvm_options" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-X")),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val rec = Map(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace, "scale" -> scaleName,
      "inputs" -> provs, "input_rows_per_op" -> wl.inputRows, "units_per_op" -> wl.units,
      "context" -> context,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "expect_s" -> expectS,
        "warmup_op_s" -> warmS),
      "measure_s" -> measureS, "op_s" -> opTimes, "ops" -> opTimes.size,
      "tracing" -> (if (trace) Map("traced_op_s_p50" -> median(tracedTimes.toSeq),
        "untraced_op_s_p50" -> median(untracedTimes.toSeq),
        "overhead_s" -> (median(tracedTimes.toSeq) - median(untracedTimes.toSeq))) else Map.empty),
      "failures" -> failures, "result" -> result,
      "queries" -> wl.lastQueries.map(q => Map("query" -> q.query, "s" -> q.secs)))
    Files.createDirectories(record.getParent)
    Files.write(record, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(rec))
    if (trace) {
      val lines = spans.map { s =>
        mapper.writeValueAsString(Map("trace" -> s"${wl.name}-$seed", "span" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs)
      }
      Files.write(Paths.get(record.toString.stripSuffix(".json") + ".spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    opts.get("pin-out").foreach { p =>
      wl match {
        case s: Workloads.Suite =>
          Files.write(Paths.get(p), mapper.writeValueAsBytes(s.results.map { case (q, (n, h)) =>
            s"${s.pinKey}/$q" -> Seq[Any](n, h)
          }))
        case _ =>
      }
    }
    failures.take(20).foreach(f => System.err.println(s"[perfbench] $f"))
    spark.stop()
    System.out.flush()
    println(mapper.writeValueAsString(result))
  }

  /** Standalone Manifest calls: load of the op's manifest, and a replay
    * of the op's commits (one markComplete per committed partition, in
    * order) into a fresh file. */
  private def manifestProbe(wl: Workload, fresh: Path): (Map[String, Double], Seq[Span]) = {
    val mf = wl.manifest.map(_.toString).getOrElse(fresh.resolveSibling("absent.jsonl").toString)
    val t0 = System.currentTimeMillis()
    val (state, loadS) = timed(Manifest.load(mf))
    val t1 = System.currentTimeMillis()
    val entries = wl.committed.flatMap(state.entries.get)
    Files.createDirectories(fresh.getParent)
    val (_, replayS) = timed(entries.foreach { e =>
      Manifest.markComplete(fresh.toString, e.partition, e.rows, e.violations, e.pass,
        e.snapshotId, e.files)
    })
    val t2 = System.currentTimeMillis()
    Files.deleteIfExists(fresh)
    val bytes = wl.manifest.filter(Files.exists(_)).map(Files.size).getOrElse(0L)
    (Map("checkpoint.Manifest.load_s" -> loadS, "checkpoint.Manifest.commit_replay_s" -> replayS,
      "checkpoint.Manifest.bytes" -> bytes.toDouble),
      Seq(Span(0, 0, "checkpoint.Manifest.load", t0, t1, Map("entries" -> state.entries.size)),
        Span(0, 0, "checkpoint.Manifest.commit_replay", t1, t2, Map("commits" -> entries.size))))
  }

  /** Standalone operator calls into the noop sink on the workload's
    * sequence table, three times each; medians reported. */
  private def operatorProbe(spark: SparkSession, wl: Workload, dir: Path,
                            spans: mutable.ArrayBuffer[Span]): Map[String, Double] = {
    val df = wl.probeTable(spark, dir)
    val constraints = ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources)
    def probe(name: String, body: => Unit): Double = median((1 to 3).map { _ =>
      val t0 = System.currentTimeMillis()
      val (_, s) = timed(body)
      spans += Span(spans.size + 1, 0, name, t0, System.currentTimeMillis(), Map.empty)
      s
    })
    Map(
      "operators.ValidationPass.pass_s" -> probe("operators.ValidationPass.seqViolations",
        ValidationPass.seqViolations(df, constraints).write.format("noop").mode("overwrite").save()),
      "operators.Uniqueness.agg_s" -> probe("operators.Uniqueness.duplicatesSimple",
        Uniqueness.duplicatesSimple(df, "doc_id").write.format("noop").mode("overwrite").save()))
  }

  private def readPins(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else {
      val n = new ObjectMapper().readTree(p.toFile)
      val it = n.fields()
      val out = Map.newBuilder[String, (Long, String)]
      while (it.hasNext) {
        val e = it.next()
        out += e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)
      }
      out.result()
    }
}
