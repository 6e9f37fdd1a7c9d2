package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Drift, Uniqueness, ValidationPass}
import graft.sources.SeqTableGen

/** spark-submit entry point for the validation engine.
  *
  * Modes:
  *   gen      <path> <nRows> [nBuckets]     — write a deterministic
  *            partitioned tokenized-sequence table (Iceberg stand-in)
  *   validate <path> <out> [manifest]       — run the full check suite
  *            over a sequence table ([[validateBatch]]); emits violations
  *            parquet + per-partition verdicts; resumes from <manifest>
  *            if given (see [[graft.checkpoint.Manifest]])
  *   validate-batch <path> <out> [manifest] — the same mode, same path
  *   stream-validate <path> <out>           — constraint pass as a file
  *            stream with exactly-once checkpoint resume
  *   drift-baseline <path> <out> [lo hi]    — store n_tok/source
  *            profiles (range from data +10% headroom unless pinned)
  *   drift-check <path> <baseline>          — KS/chi-square verdict of a
  *            snapshot vs a STORED baseline (one JSON line)
  *   demo     [nRows]                       — in-memory end-to-end run
  *   pipeline [dir]                         — training-data pipeline demo
  *   stream-curate [dir]                    — the composed curation gate
  *            sequence on a file stream, with batch-parity check
  *   health   [dir]                         — feed-health battery over
  *            the event stream (growth accounting, decayed volume,
  *            stationarity, weekday rhythm, lead-lag, rolling
  *            distinct), one JSON line per signal
  *
  * Usage: spark-submit --class graft.cli.Main <jar> <mode> ...
  */
object Main {
  def main(args: Array[String]): Unit = {
    // spark-submit injects spark.master; default to local[*] otherwise
    // (SPARK_GRAFT_MASTER overrides, e.g. local[8] for the scaling bench)
    val spark = SparkSession.builder()
      .config("spark.master", sys.props.getOrElse("spark.master",
        sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
      .appName("graft-validate")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      // nested-column vectorized parquet reader is OFF by default and
      // costs ~3x on array<int> scans (BENCH.md)
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    args.toList match {
      case "gen" :: path :: n :: rest =>
        val buckets = rest.headOption.map(_.toInt).getOrElse(16)
        SeqTableGen.writePartitioned(SeqTableGen.generate(spark, n.toLong), path, buckets)
        println(s"""{"mode":"gen","path":"$path","rows":$n,"buckets":$buckets}""")
      case ("validate" | "validate-batch") :: path :: out :: rest =>
        validateBatch(spark, path, out, rest.headOption)
      case "demo" :: rest =>
        val n = rest.headOption.map(_.toLong).getOrElse(100000L)
        demo(spark, n)
      case "pipeline" :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        pipeline(spark, dir)
      case "curate" :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        curate(spark, dir)
      case "layout" :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        layout(spark, dir)
      case "stream-curate" :: rest =>
        // curate-as-data-lands: the COMPOSED gate sequence (extraction →
        // length → quality → blocklist → seen-dedup → decontamination)
        // on a file stream — every gate is stateless or stream-static,
        // so the micro-batch run keeps bit-identical survivors to the
        // batch run (parity verified inline and pinned by StreamingSpec)
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        import org.apache.spark.sql.functions._
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "text", "n_chars")
        val seen = docs.where(col("doc_id") < 100)
        val bench = docs.where(col("doc_id") % 97 === 0)
          .select(filter(split(lower(trim(col("text"))), "\\s+"),
            w => w =!= "").as("tokens"))
        def gates(df: org.apache.spark.sql.DataFrame) =
          graft.operators.CurationGates(df, seen,
            blockedHosts = Seq("h3.example.com"), bench = Some(bench),
            badWords = Seq("deprecated", "lorem"), maxBadRatio = 0.2)
        // FileStreamSource needs a landing DIRECTORY (multi-file), not a
        // single parquet file — stage the fixture as arriving batches
        val landing = java.nio.file.Files
          .createTempDirectory("graft_stream_curate").toString
        docs.repartition(4).write.mode("overwrite").parquet(landing)
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(landing)
        graft.streaming.StreamingValidation.runToMemorySink(
          gates(stream).select("doc_id"), "stream_curate_out")
        val kept = spark.table("stream_curate_out").count()
        val batchKept = gates(docs).count()
        println(s"""{"mode":"stream-curate","dir":"$dir",""" +
          s""""in":${docs.count()},"kept":$kept,"batch_kept":$batchKept,""" +
          s""""parity":${kept == batchKept}}""")
      case "stream-validate" :: path :: out :: Nil =>
        // validate-as-data-lands: the stateless constraint projection
        // runs on a file stream (each new parquet file = a micro-batch;
        // production swaps in the Kafka/Iceberg source, same plan), and
        // the streaming checkpoint gives exactly-once resume — the
        // streaming complement of the manifest-checkpointed batch modes.
        // Uniqueness is cross-row state and stays with the batch pass
        // (or streaming.firstSeenOnly where per-key state is acceptable).
        val schema = spark.read.parquet(path).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 4).parquet(path)
        val vio = ValidationPass.seqViolations(stream,
          ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources))
        val q = vio.writeStream.format("parquet")
          .option("path", s"$out/violations_stream")
          .option("checkpointLocation", s"$out/_stream_checkpoint")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // explicit schema: a fully-clean run leaves _spark_metadata but
        // zero data files, and schema INFERENCE on that throws — the
        // violations schema is known from the streaming frame itself
        val n = spark.read.schema(vio.schema)
          .parquet(s"$out/violations_stream").count()
        println(s"""{"mode":"stream-validate","path":"$path","violations":$n}""")
      case "drift-baseline" :: path :: out :: rest =>
        // profile n_tok + source of a stored table once; later runs
        // drift-check snapshots against the STORED baseline. The
        // histogram range comes from the DATA (one min/max aggregate,
        // +10% headroom above max so modest upward drift still lands in
        // counted bins) unless explicit lo hi args pin it — a hardcoded
        // range would dump out-of-range mass into one overflow bin and
        // blind the KS statistic.
        val df = spark.read.parquet(path)
        val (lo, hi) = rest match {
          case l :: h :: Nil => (l.toDouble, h.toDouble)
          case Nil =>
            val r = df.agg(min(col("n_tok")).cast("double"),
              max(col("n_tok")).cast("double")).head()
            require(!r.isNullAt(0), s"no n_tok values to profile in $path")
            val (mn, mx) = (r.getDouble(0), r.getDouble(1))
            (mn, mx + math.max(1.0, (mx - mn) * 0.1))
          case other =>
            // a lone lo (or a stray token) silently falling back to the
            // data-derived range would pin the WRONG baseline
            System.err.println(s"drift-baseline: give BOTH lo and hi or neither, got: $other")
            sys.exit(2)
        }
        Drift.saveHistogram(spark, out,
          Drift.numericHistogram(df, "n_tok", lo, hi, 64))
        Drift.saveFreq(spark, out, Drift.categoricalFreq(df, "source"))
        println(s"""{"mode":"drift-baseline","path":"$path","out":"$out",""" +
          s""""lo":$lo,"hi":$hi}""")
      case "drift-check" :: path :: baseline :: Nil =>
        val df = spark.read.parquet(path)
        // an empty snapshot would give ks_critical = Infinity (invalid
        // JSON) and ks_drifted=false — a dead pipeline reported healthy
        if (df.isEmpty) {
          System.err.println(s"drift-check: empty snapshot at $path — nothing to judge")
          sys.exit(2)
        }
        val v = Drift.check(df,
          "n_tok", Drift.loadHistogram(spark, baseline),
          "source", Drift.loadFreq(spark, baseline))
        // Locale.ROOT: f"" formats with the JVM default locale, and a
        // comma-decimal locale would emit invalid JSON
        def d6(x: Double) = String.format(java.util.Locale.ROOT, "%.6f", Double.box(x))
        println(s"""{"mode":"drift-check","path":"$path",""" +
          s""""ks":${d6(v.ksStatistic)},"ks_critical":${d6(v.ksCritical)},""" +
          s""""ks_drifted":${v.ksDrifted},"chi_square":${d6(v.chiSquare)},""" +
          s""""chi_drifted":${v.chiDrifted}}""")
      case "health" :: rest =>
        // feed-health observability over an event stream: the composed
        // round-5 battery — growth accounting (new/retained/resurrected/
        // churned), recency-decayed volume per type, Markov
        // stationarity, weekday rhythm, lead-lag, rolling distinct —
        // one JSON line per signal, driver-parseable
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        health(spark, dir)
      case other =>
        System.err.println(s"unknown args: $other — see Scaladoc")
        sys.exit(2)
    }
    spark.stop()
  }

  /** Physical-design advisor battery over the documents table: one
    * JSON line per signal — per-column encoding recommendation,
    * sortedness, the stored table's file skew, and the actionable
    * comparison: row-skip fraction of a selective box predicate on
    * the AS-STORED layout vs a Z-order vs a Hilbert rewrite (written
    * to scratch), per dimension. The report a layout review reads
    * before paying for a 100 TB OPTIMIZE. */
  def layout(spark: SparkSession, dir: String): Unit = {
    import graft.operators.StorageAudit
    import graft.sources.Bucketing
    val path = s"$dir/documents.parquet"
    val docs = spark.read.parquet(path)
    if (docs.where(col("doc_id").isNotNull).isEmpty) {
      System.err.println(s"layout: no usable documents at $dir — " +
        "an empty table is a finding, not a report")
      sys.exit(2)
    }
    def d6(x: Double) = String.format(java.util.Locale.ROOT, "%.6f",
      Double.box(x))
    StorageAudit.encodingAudit(docs, "doc_id", Seq("lang", "source"))
      .collect().foreach { r =>
        println(s"""{"signal":"encoding","column":"${r.getString(0)}",""" +
          s""""n_rows":${r.getLong(1)},"n_distinct":${r.getLong(2)},""" +
          s""""n_runs":${r.getLong(3)},""" +
          s""""avg_run_len":${if (r.isNullAt(4)) "null" else d6(r.getDouble(4))},""" +
          s""""recommend":"${r.getString(6)}"}""")
      }
    val so = StorageAudit.sortednessAudit(docs, "doc_id", "n_chars")
      .collect()(0)
    println(s"""{"signal":"sortedness","column":"n_chars",""" +
      s""""n_pairs":${so.getLong(0)},""" +
      s""""sorted_fraction":${if (so.isNullAt(3)) "null" else d6(so.getDouble(3))}}""")
    val fs = StorageAudit.fileSkew(spark, path).collect()(0)
    println(s"""{"signal":"files","n_files":${fs.getLong(0)},""" +
      s""""n_rows":${fs.getLong(1)},"rows_min":${fs.getLong(2)},""" +
      s""""rows_max":${fs.getLong(3)},"skew":${d6(fs.getDouble(5))},""" +
      s""""n_small_files":${fs.getLong(6)}}""")
    // which rewrite buys what: row-skip of the selective 2-D box
    // (n_chars in [100,150] x bucket2 in [0,31]) per layout per dim
    val base = docs.select(col("doc_id"), col("n_chars"),
      (col("doc_id") % 256).as("bucket2"))
    val zDir = "/tmp/graft_layout_zorder"
    val hDir = "/tmp/graft_layout_hilbert"
    Bucketing.writeZOrdered(base, zDir, "n_chars", "bucket2", nFiles = 8)
    Bucketing.writeHilbert(base, hDir, "n_chars", "bucket2",
      bits = 16, nFiles = 8)
    def skipLine(layout: String, p: String, dimCol: String,
                 lo: Long, hi: Long): Unit = {
      val s = Bucketing.zoneMapSkipStats(spark, p, dimCol, lo, hi)
        .collect()(0)
      println(s"""{"signal":"skipping","layout":"$layout",""" +
        s""""dim":"$dimCol","n_files":${s.getLong(0)},""" +
        s""""row_skip_fraction":${if (s.isNullAt(5)) "null" else d6(s.getDouble(5))}}""")
    }
    // as-stored: usually a single unclustered file -> ~0 skipping
    skipLine("as-stored", path, "n_chars", 100L, 150L)
    for ((name, p) <- Seq("zorder" -> zDir, "hilbert" -> hDir)) {
      skipLine(name, p, "n_chars", 100L, 150L)
      skipLine(name, p, "bucket2", 0L, 31L)
    }
  }

  /** Feed-health battery over `<dir>/events.parquet` — the operational
    * readout an ingest owner checks before trusting a snapshot: is the
    * stream growing or churning (growth accounting), which types are
    * still producing (decayed volume), is the mix stationary or still
    * drifting (Markov stationarity), how weekly is it (η²), who leads
    * whom (lead–lag), and the rolling-distinct trend. Each signal is
    * one JSON line so a supervisor can grep/parse them independently. */
  def health(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Profile, Sessionize}
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // a dead feed must FAIL LOUDLY, not stack-trace on an empty
    // collect — the drift-check empty-snapshot guard, applied here
    if (ev.where(col("ts").isNotNull && col("user_id").isNotNull)
        .isEmpty) {
      System.err.println(s"health: no usable events at $dir — " +
        "a dead feed is a finding, not a report")
      sys.exit(2)
    }
    def d6(x: Double) = String.format(java.util.Locale.ROOT, "%.6f",
      Double.box(x))
    val ga = Sessionize.growthAccounting(ev, "user_id", "ts")
      .orderBy(desc("day")).limit(1).collect()(0)
    println(s"""{"signal":"growth","day":"${ga.getDate(0)}",""" +
      s""""active":${ga.getLong(1)},"new":${ga.getLong(2)},""" +
      s""""retained":${ga.getLong(3)},"resurrected":${ga.getLong(4)},""" +
      s""""churned":${if (ga.isNullAt(5)) "null" else ga.getLong(5)}}""")
    Drift.decayedVolume(ev, "ts", "event_type").collect().foreach { r =>
      println(s"""{"signal":"decayed_volume","type":"${r.getString(0)}",""" +
        s""""n":${r.getLong(1)},"mass":${d6(r.getDouble(2))},""" +
        s""""freshness":${d6(r.getDouble(3))}}""")
    }
    Sessionize.stationaryMix(ev, "user_id", "ts", "event_type",
        "event_id").collect().foreach { r =>
      println(s"""{"signal":"stationarity","type":"${r.getString(0)}",""" +
        s""""observed":${d6(r.getDouble(1))},""" +
        s""""stationary":${d6(r.getDouble(2))},""" +
        s""""delta":${d6(r.getDouble(3))}}""")
    }
    val we = Sessionize.weekdayEffect(ev, "ts").collect()(0)
    println(s"""{"signal":"weekday","n_days":${we.getLong(0)},""" +
      s""""eta_squared":${if (we.isNullAt(1)) "null" else d6(we.getDouble(1))},""" +
      s""""peak_dow":${we.getInt(2)},"trough_dow":${we.getInt(3)}}""")
    val ll = Sessionize.leadLagCorr(ev, "ts", "event_type", "click",
        "purchase").collect()
      .filter(!_.isNullAt(2)).maxByOption(_.getDouble(2))
    ll.foreach { r =>
      println(s"""{"signal":"lead_lag","best_lag":${r.getInt(0)},""" +
        s""""corr":${d6(r.getDouble(2))}}""")
    }
    val rd = Profile.rollingDistinct(ev, "ts", "user_id")
      .orderBy(desc("day")).limit(1).collect()(0)
    println(s"""{"signal":"rolling_distinct","day":"${rd.getDate(0)}",""" +
      s""""day_distinct":${rd.getLong(2)},""" +
      s""""rolling_7d":${rd.getLong(3)}}""")
  }

  private val BucketDir = "part_bucket=([^/]+)/".r.unanchored

  /** Full check suite over a stored sequence table: one set of Spark
    * jobs computes every pending partition's violations and verdicts,
    * writes the violations `partitionBy(part_bucket)` under
    * `<out>/violations`, and then commits every verdict to the manifest
    * in one atomic rewrite. A table without a `part_bucket` column
    * validates as the single partition `all`.
    *
    * Verdicts are a groupBy(part_bucket) aggregate, so the job count
    * does not grow with the partition count. Resume is per run: a crash
    * before the manifest commit marks nothing, and the rerun redoes
    * every still-pending partition.
    *
    * The referential allowlist is driver-sized (a literal Seq), so the
    * check compiles into the same fused predicate pass as the other
    * constraints — a broadcast hash join against a 3-row dimension would
    * buy nothing and cost another full scan of the corpus.
    * [[graft.operators.Referential.violations]] remains the path for
    * allowlists that live in a real dimension table. */
  def validateBatch(spark: SparkSession, path: String, out: String, manifest: Option[String]): Unit = {
    import graft.checkpoint.Manifest
    val stored = spark.read.parquet(path)
    val partitioned = stored.columns.contains("part_bucket")
    val df = if (partitioned) stored else stored.withColumn("part_bucket", lit("all"))
    // one scan of the partition column gives the partition list and
    // every partition's row count (the verdicts' `rows`)
    val rowsByPart = df.groupBy("part_bucket").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val partitions = if (partitioned) rowsByPart.keys.toSeq.sorted else Seq("all")
    val mf = manifest.map(Manifest.load).getOrElse(Manifest.empty)
    val todo = partitions.filterNot(mf.isComplete)
    println(s"""{"mode":"validate","partitions":${partitions.size},"todo":${todo.size}}""")
    if (todo.isEmpty) return
    val slice =
      if (partitioned) df.where(col("part_bucket").isin(todo.map(_.toInt): _*)) else df

    val constraints =
      ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources) :+
      ValidationPass.SeqConstraint("R_REF_SOURCE",
        col("source").isin(SeqTableGen.RefAllowlist: _*),
        coalesce(col("source"), lit("<null>")))
    val vio = ValidationPass.seqViolations(slice, constraints, carryCols = Seq("part_bucket"))
    // global uniqueness in one shuffle (the bucketing co-locates equal
    // keys, so per-bucket == global; computed over the whole slice here)
    val uniq = Uniqueness.violations(slice, "doc_id", carryCols = Seq("part_bucket"))
    // persist the (small, violations-only) frame once: the write and the
    // per-partition counts both read the cached copy, so the counts come
    // from THIS run's rows — never from the sink. Building it reads the
    // slice three times (the fused constraint pass, the uniqueness
    // aggregate and its join-back); the partition list and the row
    // counts came from one earlier scan of the partition column.
    // (Re-reading $out/violations was wrong: a pending partition with
    // zero violations writes no directory, so stale files from an earlier
    // run into the same out dir would be counted and the partition
    // wrongly failed — ADVICE round 2.)
    val all = vio.unionByName(uniq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dynamic overwrite replaces only partitions PRESENT in this run's
    // output — a pending partition whose violations are now ZERO writes
    // nothing and would keep stale files from an earlier run, so the
    // todo partitions' directories are deleted first (the sink must
    // agree with the manifest verdict, not just the counts)
    val sinkRoot = new org.apache.hadoop.fs.Path(s"$out/violations")
    val fs = sinkRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    todo.foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(sinkRoot, s"part_bucket=$p"), true)
    }
    // dynamic overwrite: only the buckets in this run are replaced
    // (writer-scoped option — do not mutate session config)
    all.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_bucket")
      .parquet(s"$out/violations")

    // per-partition verdicts: one tiny aggregate (shuffle rows =
    // O(partitions))
    val violByPart = all
      .groupBy("part_bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    all.unpersist()
    val verdicts = todo.map { p =>
      (p, rowsByPart.getOrElse(p, 0L), violByPart.getOrElse(p, 0L))
    }
    manifest.foreach { mfPath =>
      // lineage: the concrete files each partition's verdict was read
      // from (the Iceberg snapshot-id slot carries the scan timestamp for
      // the parquet stand-in). inputFiles lists the whole relation, not
      // the pruned scan, so it is listed once and split by directory.
      val filesByPart = stored.inputFiles.toSeq.sorted.groupBy {
        case BucketDir(p) if partitioned => p
        case _ => "all"
      }
      val now = System.currentTimeMillis()
      Manifest.commit(mfPath, verdicts.map { case (p, nRows, nViol) =>
        Manifest.Entry(p, nRows, nViol, nViol == 0, s"scan-$now",
          filesByPart.getOrElse(p, Nil), now)
      })
    }
    verdicts.foreach { case (p, nRows, nViol) =>
      println(s"""{"partition":"$p","rows":$nRows,"violations":$nViol,"pass":${nViol == 0}}""")
    }
  }

  /** Training-data pipeline pass over a testdata dir: dedup, similarity,
    * text analysis over documents/embeddings. */
  def pipeline(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    val embs = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val exact = Dedup.exactDuplicates(docs, "doc_id", "text").count()
    val near = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      k = 32, bands = 8, threshold = 0.7).count()
    val sim = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = 3).count()
    println(s"""{"op":"dedup","exact_groups":$exact,"minhash_pairs":$near,"simhash_pairs":$sim}""")
    val q = embs.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    val top = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 5)
      .collect().map(r => s"${r.getLong(0)}:${f"${r.getDouble(1)}%.3f"}").mkString(",")
    println(s"""{"op":"ann_topk","top5":"$top"}""")
    val ta = TextAnalysis.analyze(docs, "doc_id", "text")
    val langAgg = ta.groupBy("lang_pred").count().orderBy(desc("count"))
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
    val avgQ = ta.agg(avg("quality_score")).head().getDouble(0)
    println(s"""{"op":"text","langs":"$langAgg","avg_quality":${f"$avgQ%.4f"}}""")

    // benchmark decontamination + deterministic mixing + PII sweep —
    // the assembly steps between validation and tokenization
    val bench = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bid"), col("text"))
    val contaminated = graft.operators.Dedup.ngramContamination(
      docs, "doc_id", "text", bench, "bid", "text", n = 5, minHits = 2)
      .where(col("corpus_id") =!= col("bench_id")) // bench ⊂ corpus here:
      .select("corpus_id").distinct().count()      // drop self-matches
    val mixed = graft.operators.Mixing.sampleByWeights(
      docs, "doc_id", "source", Map.empty, defaultWeight = 0.5).count()
    val pii = docs.agg(
      sum(TextAnalysis.piiCounts(col("text")).getField("n_emails")).as("e"))
      .head().getLong(0)
    println(s"""{"op":"assemble","contaminated_docs":$contaminated,"mixed_kept":$mixed,"emails_found":$pii}""")

    // ingest-time steps: canonical-URL collapse (case/tracking-param
    // spellings hash equal), incremental dedup of the batch against an
    // already-ingested snapshot, greedy packing of the survivors
    val canon = docs.select(graft.functions.CanonicalUrl.canonicalUrl(
        concat(lit("HTTP://WWW."), upper(col("source")), lit(".example.com/"),
          col("doc_id"), lit("?utm_source=crawl&ref=x"))).as("url"))
      .distinct().count()
    val seen = docs.where(col("doc_id") % 2 === 0)
    val fresh = Dedup.dropSeenDuplicates(docs, seen, "text",
      expectedSeen = seen.count()).cache()
    val freshCnt = fresh.count() // materialize ONCE; packing reuses it
    val packs = graft.operators.Packing.greedyPack(
        fresh, "source", "doc_id", "n_chars", budget = 1000)
      .select("source", "shard", "pack_id").distinct().count()
    fresh.unpersist()
    println(s"""{"op":"ingest","canonical_urls":$canon,"fresh_docs":$freshCnt,"packs":$packs}""")

    // token-payload assembly: quarantine split → benchmark
    // decontamination → train/val/test assignment → concat-and-chunk
    // window materialization — the post-validation steps a token-native
    // trainer pipeline runs, end-to-end on one generated table
    val seq = SeqTableGen.generate(spark, 50000).cache()
    val constraints = graft.operators.ValidationPass
      .seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources)
    val (clean0, dirty) = graft.operators.ValidationPass
      .splitValid(seq, constraints)
    // duplicate doc_ids pass every per-row constraint but are ambiguous
    // keys for the id-joined steps below (offsets, decontamination
    // grouping) — the uniqueness stage excludes them, exactly like the
    // validated-output contract (SeqEngineSpec token-equality test)
    // no broadcast hint: the dup-id set is unbounded in principle (the
    // repo's own no-forced-broadcast rule) — AQE broadcasts when small
    val dupIds = Uniqueness.duplicatesSimple(clean0, "doc_id").select("doc_id")
    val clean = clean0.join(dupIds, Seq("doc_id"), "left_anti")
    val benchTok = seq
      .where(pmod(xxhash64(col("doc_id")), lit(100L)) === 0)
      .select("tokens")
    val decon = graft.operators.Decontamination.removeContaminated(
      clean, "doc_id", "tokens", benchTok, "tokens", n = 8).cache()
    val deconCnt = decon.count()
    // count the uncached clean lineage ONCE (dedup shuffle + anti-join)
    val cleanCnt = clean.count()
    val contam = cleanCnt - deconCnt
    // train windows pack the DECONTAMINATED survivors — flagged docs
    // must not leak benchmark content into the training stream
    val train = graft.operators.Mixing.assignSplits(decon, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .where(col("split") === "train")
    // placement + materialization share ONE prefix-sum frame (the
    // checkpointed offsets would otherwise compute — and leak — twice),
    // released as soon as both consumers have run
    val trainSized = train.withColumn("sz", size(col("tokens")))
    val offs = graft.operators.Packing.globalOffsets(trainSized, "doc_id", "sz")
    val placed = graft.operators.Packing.concatChunk(
      trainSized, "doc_id", "sz", windowLen = 2048L, offsets = Some(offs)).count()
    val windows = graft.operators.Packing.materializeWindows(
      trainSized, "doc_id", "tokens", "sz", windowLen = 2048L,
      offsets = Some(offs)).count()
    graft.operators.Packing.releaseOffsets(offs)
    println(s"""{"op":"tokens","clean":$cleanCnt,"quarantined":${dirty.count()},""" +
      s""""contaminated":$contam,"placed_docs":$placed,"train_windows":$windows}""")
    decon.unpersist(); seq.unpersist()
  }

  /** Web-corpus curation pass over a testdata dir — the round-4 tier
    * end-to-end: HTML extraction → funnel-gated quality filtering →
    * within-doc dedup → DSIR selection → weighted sampling → semantic
    * dedup → snapshot diff → balanced shards. One JSON line per stage
    * group (the observability contract every stage keeps). */
  def curate(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Funnel, LineDedup, Mixing, Packing,
      Profile, Similarity, SnapshotDiff, TextAnalysis}
    graft.functions.TextExpressions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")

    // ingest: synthesize markup, extract, funnel-gate — ONE pass, the
    // stage counts ride the write as CollectMetrics
    val html = docs.select(col("doc_id"), col("source"), col("n_chars"),
      concat(lit("<html><body><h1>"), col("source"), lit("</h1><p>"),
        col("text"), lit("</p><script>t()</script></body></html>"))
        .as("html"))
    val extracted = html.select(col("doc_id"), col("source"),
      col("n_chars"), TextAnalysis.htmlToText(col("html")).as("text"))
    val f = Funnel(extracted, massCol = Some("n_chars"))
      .stage("len_gate", _.where(col("n_chars") >= 100))
      .stage("quality_gate", TextAnalysis.applyQualityFilter(_, "text",
        TextAnalysis.QualityThresholds(minStopwordRatio = 0.0)))
    val kept = f.df.cache()
    val keptCnt = kept.count() // the funnel's single action
    val funnelStr = f.report().map { case (s, n, m) =>
      s""""$s":[$n,${m.getOrElse(-1L)}]""" }.mkString(",")
    println(s"""{"op":"ingest_funnel",$funnelStr}""")

    // repetition scrub + keyword/importance signals. Guards: a strict
    // gate can keep 0-1 docs — sum() is then NULL and k would be 0
    val deduped = LineDedup.dedupLinesWithinDoc(kept, "text", delim = " ")
    val dropped = Option(deduped.agg(sum(col("n_dropped"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val terms = TextAnalysis.tfIdfTopTerms(kept, "doc_id", "text", k = 1)
      .count()
    val target = kept.where(col("source").isin("src1", "src2"))
    val dsirKept = graft.operators.Curation.dsirSelect(
      kept, "doc_id", "text", target, "text",
      k = math.max(1, keptCnt.toInt / 2)).count()
    val wSample = Mixing.weightedSample(kept, "doc_id", "n_chars", k = 50)
      .count()
    println(s"""{"op":"signals","intradoc_dropped_units":$dropped,""" +
      s""""tfidf_docs":$terms,"dsir_selected":$dsirKept,""" +
      s""""weighted_sample":$wSample}""")

    // embeddings: semantic dedup on a planted-duplicate corpus
    val doubled = embs.select("vec_id", "embedding").unionByName(
      embs.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val semKept = Similarity.semDedup(doubled, "vec_id", "embedding",
      nCentroids = 8, threshold = 0.999).count()
    println(s"""{"op":"semdedup","in":${2 * embs.count()},"kept":$semKept}""")

    // refresh bookkeeping + packaging: snapshot diff, z-scored length,
    // difficulty buckets, token-balanced shards
    val oldSnap = docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    val newSnap = docs.where(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val diffStr = SnapshotDiff.summary(oldSnap, newSnap, "doc_id", Seq("text"))
      .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
      .sorted.mkString(",")
    val zOut = Profile.groupZScores(docs, "n_chars", "source")
      .agg(max(abs(col("z")))).head().getDouble(0)
    val buckets = Mixing.quantileBuckets(docs, "n_chars", nBuckets = 4)
      .groupBy("bucket").count().count()
    // shared-offsets + releaseOffsets: free the prefix-sum checkpoint
    // once the shard summary is materialized (round-4 ADVICE — the
    // offsets=None path pins blocks for the session)
    val shardDocs = docs.select("doc_id", "n_chars")
    val shardOffs = Packing.globalOffsets(shardDocs, "doc_id", "n_chars")
    val shards = Packing.shardSizes(
      Packing.balancedShards(shardDocs, "doc_id", "n_chars", nShards = 8,
        offsets = Some(shardOffs)), "n_chars")
    val maxShard = shards.agg(max(col("total_cost"))).head().getLong(0)
    Packing.releaseOffsets(shardOffs)
    println(s"""{"op":"package",$diffStr,"max_abs_z":${f"$zOut%.3f"},""" +
      s""""difficulty_buckets":$buckets,"shards":8,"max_shard_cost":$maxShard}""")

    // split hygiene close-out: content-group-hashed train/val/test over
    // the curated survivors (exact duplicates CANNOT span splits by
    // construction), with the leakage audit run anyway — the belt AND
    // the suspenders, logged per split
    val split = Mixing.groupAwareSplit(kept.select("doc_id", "text"), "text")
    val leakStr = graft.operators.Dedup.splitLeakage(split, "text", "split")
      .collect().map(r =>
        s""""${r.getString(0)}":[${r.getLong(1)},${r.getLong(3)}]""")
      .sorted.mkString(",")
    println(s"""{"op":"splits",$leakStr}""")
    kept.unpersist(); docs.unpersist()
  }

  /** In-memory demo: generate → validate → render report. */
  def demo(spark: SparkSession, n: Long): Unit = {
    val t0 = System.nanoTime()
    val df = SeqTableGen.generate(spark, n)
    val constraints = ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources)
    val vioCounts = ValidationPass.seqViolations(df, constraints)
      .groupBy("rule_id").count().orderBy("rule_id").collect()
    val dups = Uniqueness.duplicates(df, "doc_id").count()
    val (nRows, nDistinct, _) = Uniqueness.probabilisticCheck(df, "doc_id")
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"== graft demo: $n rows validated in ${f"$secs%.2f"}s (${f"${n / secs}%.0f"} rows/s) ==")
    vioCounts.foreach(r => println(f"  ${r.getString(0)}%-18s ${r.getLong(1)}"))
    println(f"  R_UNIQUE_DOCID     $dups duplicate keys (rows=$nRows hll_distinct=$nDistinct)")

    // drift demo
    val clean = SeqTableGen.generate(spark, math.min(n, 100000L), withViolations = false)
    val hist = Drift.numericHistogram(clean, "n_tok", 0, 300, 64)
    val freq = Drift.categoricalFreq(clean, "source")
    val shifted = clean.withColumn("n_tok", col("n_tok") + 40)
    val v = Drift.check(shifted, "n_tok", hist, "source", freq)
    println(f"  drift(shifted n_tok): KS=${v.ksStatistic}%.3f crit=${v.ksCritical}%.3f drifted=${v.ksDrifted}")
  }
}
