package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.JsonIngest

import Fixtures._

/** Training-data curation: mixing, packing, splits, web and link
  * graph signals, chat and multimodal QC (`Mixing`, `Packing`, `WebFilter`, `LinkGraph`, ...). */
object CurationQueries {

  val specs: Seq[QuerySpec] = Seq(

    // guaranteed-balance stratified k-folds: within-stratum rank by the
    // overflow-safe multiplicative key, fold = (rank-1) mod k — every
    // (source, fold) cell within 1 of n_s/k BY CONSTRUCTION (hash-mod
    // only balances in expectation); output is the balance audit
    QuerySpec("q_stratified_folds", ((s, d) =>
      Mixing.foldBalance(
        Mixing.stratifiedFolds(t(s, d, "documents"), "doc_id", "source",
          k = 5, seed = 7L), "source")), Sql(
      """WITH kdf AS (
        |  SELECT doc_id, source,
        |    (doc_id * 2654435761 + 7) % 4294967296 AS key
        |  FROM documents),
        |f AS (SELECT source,
        |        (row_number() OVER (PARTITION BY source
        |                            ORDER BY key, doc_id) - 1) % 5
        |          AS fold
        |      FROM kdf)
        |SELECT source, CAST(fold AS INT) AS fold, count(*) AS n_rows
        |FROM f GROUP BY 1, 2 ORDER BY source, fold""".stripMargin)),

    // temporal split with an embargo gap: train < cutoff−1d, test ≥
    // cutoff, the day between labeled 'embargo' (returned, not silently
    // dropped) — boundary-leak hygiene for time-ordered corpora
    QuerySpec("q_temporal_split", ((s, d) =>
      Mixing.temporalSplit(t(s, d, "events"), "ts",
          "2024-01-24 00:00:00", embargoSecs = 86400)
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        .orderBy("split")), Sql(
      """SELECT split, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts
        |FROM (
        |  SELECT ts,
        |    CASE WHEN ts IS NULL THEN NULL
        |         WHEN ts < TIMESTAMP '2024-01-23 00:00:00' THEN 'train'
        |         WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 'test'
        |         ELSE 'embargo' END AS split
        |  FROM events)
        |GROUP BY split ORDER BY split""".stripMargin)),

    // reciprocal-rank fusion of two candidate lists (length proxy +
    // deterministic pseudo-relevance hash), top-50 heads, k=60 — the
    // BM25⊕ANN merge step; ranks fuse where raw scores don't share a
    // scale
    QuerySpec("q_rrf_fuse", ((s, d) => {
      val docs = t(s, d, "documents")
      val byLen = docs.select(col("doc_id"),
        col("n_chars").cast("double").as("score"))
      val byHash = docs.select(col("doc_id"),
        conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long").cast("double").as("score"))
      Mixing.rrfFuse(Seq(byLen, byHash), "doc_id", "score",
        topN = 50, k = 60)
    }), Sql(
      """WITH a AS (
        |  SELECT doc_id, n_chars::DOUBLE AS sc FROM documents
        |  WHERE n_chars IS NOT NULL),
        |b AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
        |      AS DOUBLE) AS sc
        |  FROM documents WHERE text IS NOT NULL),
        |ar AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY sc DESC, doc_id) AS r
        |  FROM a QUALIFY r <= 50),
        |br AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY sc DESC, doc_id) AS r
        |  FROM b QUALIFY r <= 50),
        |u AS (SELECT * FROM ar UNION ALL SELECT * FROM br)
        |SELECT doc_id, count(*) AS n_lists,
        |  round(sum(1.0 / (r + 60)), 6) AS rrf_score
        |FROM u GROUP BY 1
        |ORDER BY rrf_score DESC, doc_id""".stripMargin)),

    // quality-ranked token-budget selection: keep the best-scored docs
    // until the corpus-wide budget fills (exclusive-prefix-sum < budget
    // keeps the boundary doc). Two-level distributed prefix sum on the
    // (-score, id) walk — never a SinglePartition window; the
    // Knuth-hash pseudo-score is the SQL-replicable oracle spelling
    QuerySpec("q_budget_select", ((s, d) => {
      val score = (col("doc_id") * lit(2654435761L) + lit(99L)) % lit(4294967296L)
      Selection.tokenBudget(t(s, d, "documents"), "doc_id", "n_chars",
          score, budget = 80000L)
        .select(col("doc_id"), col("cum_before"))
        .orderBy("doc_id")
    }), Sql(
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |         (doc_id * 2654435761 + 99) % 4294967296 AS score
        |  FROM documents),
        |o AS (
        |  SELECT doc_id,
        |         CAST(coalesce(sum(n_chars) OVER (ORDER BY score DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before
        |  FROM r)
        |SELECT doc_id, cum_before FROM o
        |WHERE cum_before < 80000 ORDER BY doc_id""".stripMargin)),

    // domain-blocklist gate: suffix matching (entry blocks itself + all
    // subdomains) over hosts synthesized deterministically from source —
    // predicate path (arrays_overlap on the substring_index suffix
    // chain); the join path is differential-tested in PipelineOpsSpec
    // suffix semantics spelled directly: an entry blocks exact host and
    // every '.'-boundary subdomain
    QuerySpec("q_domain_filter", ((s, d) => {
      val host0 = when(col("doc_id") % 3 === 0,
          concat(lower(col("source")), lit(".example.com")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("www."), lower(col("source")), lit(".example.com")))
        .otherwise(concat(lower(col("source")), lit(".net")))
      val withUrl = t(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("http://"), host0, lit("/p/"), col("doc_id")).as("url"))
      graft.operators.WebFilter
        .filterBlockedHosts(withUrl, "url",
          Seq("src3.example.com", "src7.net", "src11.example.com"))
        .select(col("doc_id"),
          graft.operators.WebFilter.hostOf(col("url")).as("host"))
        .orderBy("doc_id")
    }), Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN lower(source) || '.example.com'
        |         WHEN doc_id % 3 = 1 THEN 'www.' || lower(source) || '.example.com'
        |         ELSE lower(source) || '.net' END AS host
        |  FROM documents)
        |SELECT doc_id, host FROM u
        |WHERE NOT (host IN ('src3.example.com', 'src7.net', 'src11.example.com')
        |       OR host LIKE '%.src3.example.com'
        |       OR host LIKE '%.src7.net'
        |       OR host LIKE '%.src11.example.com')
        |ORDER BY doc_id""".stripMargin)),

    // temperature-based source rebalancing (p ∝ n^(1/T), T = 2 lifts
    // the tail): keep-fractions from integer counts through fixed IEEE
    // ops, applied as the stateless modulo predicate — realized mix
    // per source verified exactly
    QuerySpec("q_temperature_mix", ((s, d) =>
      Mixing.sampleByTemperature(t(s, d, "documents"), "doc_id", "source",
          temperature = 2.0, granularity = 10000, hashKey = false)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")), Sql(
      """WITH c AS (SELECT source, count(*)::DOUBLE AS n
        |           FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |r AS (SELECT source, pow(n, 1.0 / 2.0) / n AS ratio FROM c),
        |m AS (SELECT max(ratio) AS mx FROM r),
        |t AS (SELECT source, CAST(round(ratio / mx * 10000) AS BIGINT)
        |        AS thr FROM r, m)
        |SELECT d.source, count(*) AS n_kept
        |FROM documents d JOIN t USING (source)
        |WHERE d.doc_id % 10000 < t.thr
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Efraimidis–Spirakis weighted sampling without replacement,
    // deterministic draw (multiplicative-hash oracle mode): top-50 by
    // ln(u)/w — char-mass-weighted corpus subsample
    QuerySpec("q_weighted_sample", ((s, d) =>
      Mixing.weightedSample(t(s, d, "documents"), "doc_id", "n_chars",
          k = 50, seed = 7L, hashKey = false)
        .select("doc_id", "n_chars").orderBy("doc_id")), Sql(
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    ln((((doc_id * 2654435761 + 7) % 4294967296) + 0.5)
        |       / 4294967296.0) / n_chars AS key
        |  FROM documents WHERE n_chars > 0
        |  ORDER BY key DESC, doc_id LIMIT 50)
        |ORDER BY doc_id""".stripMargin)),

    // token-balanced output sharding over the distributed prefix sum:
    // contiguous offset ranges → 8 shards of near-equal char mass
    // (imbalance bounded by one document); oracle replays the cumsum.
    // Shared-offsets + releaseOffsets: the prefix sum's checkpoint
    // blocks are freed as soon as the 8-row summary is materialized —
    // the `offsets = None` convenience path pins them for the session,
    // which accumulates across bench replays (round-4 ADVICE).
    // width = ceil(total/8) exactly as Spark's (total + n - 1) div n;
    // a doc's shard comes from its START offset (docs never split)
    QuerySpec("q_balanced_shards", ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "n_chars")
      val offs = Packing.globalOffsets(docs, "doc_id", "n_chars")
      val sizes = Packing.shardSizes(
        Packing.balancedShards(docs, "doc_id", "n_chars", nShards = 8,
          offsets = Some(offs)), "n_chars")
      val rows = sizes.collect() // nShards rows — driver-bounded
      Packing.releaseOffsets(offs)
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq, 1), sizes.schema)
    }), Sql(
      """WITH o AS (
        |  SELECT doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM documents),
        |w AS (SELECT (sum(n_chars) + 7) // 8 AS w FROM documents)
        |SELECT CAST(least(o.off // w.w, 7) AS INTEGER) AS shard_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_cost
        |FROM o, w GROUP BY 1 ORDER BY 1""".stripMargin)),

    // curriculum difficulty buckets: exact interpolated quartile
    // thresholds broadcast into a stateless projection (never ntile's
    // SinglePartition sort); dyadic quantile positions on an integer
    // score make the thresholds bit-exact in both engines
    QuerySpec("q_difficulty_buckets", ((s, d) =>
      Mixing.quantileBuckets(t(s, d, "documents"), "n_chars",
          nBuckets = 4, exact = true)
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("bucket")), Sql(
      """WITH t AS (SELECT quantile_cont(n_chars, 0.25) AS q1,
        |                  quantile_cont(n_chars, 0.50) AS q2,
        |                  quantile_cont(n_chars, 0.75) AS q3
        |           FROM documents)
        |SELECT bucket, count(*) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT n_chars,
        |        (CASE WHEN n_chars > t.q1 THEN 1 ELSE 0 END
        |       + CASE WHEN n_chars > t.q2 THEN 1 ELSE 0 END
        |       + CASE WHEN n_chars > t.q3 THEN 1 ELSE 0 END) AS bucket
        |      FROM documents, t)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023): per-doc unigram
    // log-likelihood ratio of a target exemplar set (src1/src2) vs the
    // raw corpus, add-one smoothing — word-keyed oracle mode (the
    // hashed-bucket production path is differential-tested in
    // CurationSpec with its bounded-broadcast weight table)
    // DSIR replicated exactly: same word split, add-one smoothing over
    // V = distinct raw words, ln-ratio summed per doc, rounded 6 dp
    QuerySpec("q_dsir_weights", ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.dsirLogWeights(docs, "doc_id", "text",
          docs.where(col("source").isin("src1", "src2")), "text",
          hashed = false)
        .orderBy("doc_id")
    }), Sql(
      """WITH wr AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '')) AS word
        |  FROM documents),
        |wt AS (SELECT wr.word FROM wr JOIN documents USING (doc_id)
        |       WHERE source IN ('src1', 'src2')),
        |cr AS (SELECT word, count(*) AS cr FROM wr GROUP BY 1),
        |ct AS (SELECT word, count(*) AS ct FROM wt GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cr)::DOUBLE FROM cr) AS nr,
        |               (SELECT count(*)::DOUBLE FROM cr) AS v,
        |               (SELECT coalesce(sum(ct), 0)::DOUBLE FROM ct) AS nt),
        |lw AS (SELECT cr.word,
        |         ln((coalesce(ct.ct, 0) + 1.0) / (tot.nt + tot.v))
        |       - ln((cr.cr + 1.0) / (tot.nr + tot.v)) AS lw
        |       FROM cr LEFT JOIN ct USING (word), tot)
        |SELECT doc_id, round(sum(lw), 6) AS dsir_weight
        |FROM wr JOIN lw USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // web-graph tier, extraction half: pages synthesized with internal
    // doc:// links from doc_id arithmetic (doc_id%17==0 pages are
    // link-free → the isolated/dangling path), hrefs pulled back out by
    // LinkGraph.extractDocLinks and rolled to per-doc degrees. The
    // oracle replays the SAME regex in DuckDB's independent regex
    // engine — extraction is verified, not just the arithmetic
    // outlink extraction replayed by DuckDB's own regex engine over the
    // identically-synthesized pages, rolled to per-doc degrees
    QuerySpec("q_outlinks", ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.count()
      val id = col("doc_id").cast("long")
      val pages = docs.select(id.as("doc_id"), concat(
        lit("<html><body><nav><a href=\"/home\">Home</a></nav>" +
          "<p>filler</p>"),
        when(id % 17 =!= 0, concat(
          lit("<a href=\"doc://"), ((id * 7 + 1) % n).cast("string"),
          lit("\">a</a> <a href=\"doc://"), ((id * 13 + 3) % n).cast("string"),
          lit("\">b</a> <a href=\"doc://"), ((id + 1) % n).cast("string"),
          lit("\">c</a>"))).otherwise(lit("")),
        lit("</body></html>")).as("__html"))
      val edges = LinkGraph.extractDocLinks(pages, "doc_id", "__html")
      LinkGraph.degrees(edges, Some(docs.select(id.as("id"))))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }), Sql(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |pg AS (
        |  SELECT doc_id,
        |    '<html><body><nav><a href="/home">Home</a></nav><p>filler</p>'
        |    || CASE WHEN doc_id % 17 <> 0 THEN
        |         '<a href="doc://' || CAST((doc_id*7+1) % nn.n AS VARCHAR)
        |         || '">a</a> <a href="doc://'
        |         || CAST((doc_id*13+3) % nn.n AS VARCHAR)
        |         || '">b</a> <a href="doc://'
        |         || CAST((doc_id+1) % nn.n AS VARCHAR) || '">c</a>'
        |       ELSE '' END || '</body></html>' AS html
        |  FROM documents, nn),
        |e AS (SELECT DISTINCT doc_id AS src, CAST(dst AS BIGINT) AS dst
        |      FROM (SELECT doc_id, unnest(regexp_extract_all(
        |              html, 'href="doc://(\d+)"', 1)) AS dst FROM pg)),
        |outd AS (SELECT src, count(*) AS c FROM e GROUP BY 1),
        |ind AS (SELECT dst, count(*) AS c FROM e GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(outd.c, 0) AS BIGINT) AS out_degree,
        |       CAST(coalesce(ind.c, 0) AS BIGINT) AS in_degree
        |FROM documents d
        |LEFT JOIN outd ON d.doc_id = outd.src
        |LEFT JOIN ind ON d.doc_id = ind.dst
        |ORDER BY d.doc_id""".stripMargin)),

    // web-graph tier, iteration half: PageRank (4 iterations, d=0.85,
    // dangling mass redistributed) over the same arithmetic edge set —
    // centrality as a curation quality signal; the oracle replays all
    // four iterations as chained CTEs
    // PageRank: the four iterations replayed as chained CTEs — same
    // init 1/N, same (1-d)/N + d*(contrib + dangling/N) update, same
    // 6dp terminal round (FP sum-order differences are ~1e-15)
    QuerySpec("q_pagerank", ((s, d) => {
      val (edges, verts) = syntheticEdges(t(s, d, "documents"))
      // result frame is localCheckpoint-backed (Packing.releaseOffsets
      // ownership convention); at N=|docs| rows the pin is result-sized
      LinkGraph.pageRank(edges, iterations = 4, damping = 0.85,
          vertices = Some(verts))
        .select(col("id").as("doc_id"), round(col("rank"), 6).as("rank"))
        .orderBy("doc_id")
    }), Sql(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, unnest([(doc_id*7+1) % nn.n,
        |    (doc_id*13+3) % nn.n, (doc_id+1) % nn.n]) AS dst
        |  FROM documents, nn WHERE doc_id % 17 <> 0)),
        |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY 1),
        |v AS (SELECT d.doc_id AS id, od.od FROM documents d
        |      LEFT JOIN od ON d.doc_id = od.src),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
        |r0 AS (SELECT id, od, 1.0/nd.n AS r FROM v, nd),
        |m1 AS (SELECT coalesce(sum(r), 0) AS m FROM r0 WHERE od IS NULL),
        |c1 AS (SELECT e.dst AS id, sum(r0.r/r0.od) AS c FROM e
        |       JOIN r0 ON e.src = r0.id GROUP BY 1),
        |r1 AS (SELECT v.id, v.od,
        |         0.15/nd.n + 0.85*(coalesce(c1.c, 0) + m1.m/nd.n) AS r
        |       FROM v CROSS JOIN nd CROSS JOIN m1
        |       LEFT JOIN c1 ON v.id = c1.id),
        |m2 AS (SELECT coalesce(sum(r), 0) AS m FROM r1 WHERE od IS NULL),
        |c2 AS (SELECT e.dst AS id, sum(r1.r/r1.od) AS c FROM e
        |       JOIN r1 ON e.src = r1.id GROUP BY 1),
        |r2 AS (SELECT v.id, v.od,
        |         0.15/nd.n + 0.85*(coalesce(c2.c, 0) + m2.m/nd.n) AS r
        |       FROM v CROSS JOIN nd CROSS JOIN m2
        |       LEFT JOIN c2 ON v.id = c2.id),
        |m3 AS (SELECT coalesce(sum(r), 0) AS m FROM r2 WHERE od IS NULL),
        |c3 AS (SELECT e.dst AS id, sum(r2.r/r2.od) AS c FROM e
        |       JOIN r2 ON e.src = r2.id GROUP BY 1),
        |r3 AS (SELECT v.id, v.od,
        |         0.15/nd.n + 0.85*(coalesce(c3.c, 0) + m3.m/nd.n) AS r
        |       FROM v CROSS JOIN nd CROSS JOIN m3
        |       LEFT JOIN c3 ON v.id = c3.id),
        |m4 AS (SELECT coalesce(sum(r), 0) AS m FROM r3 WHERE od IS NULL),
        |c4 AS (SELECT e.dst AS id, sum(r3.r/r3.od) AS c FROM e
        |       JOIN r3 ON e.src = r3.id GROUP BY 1),
        |r4 AS (SELECT v.id, v.od,
        |         0.15/nd.n + 0.85*(coalesce(c4.c, 0) + m4.m/nd.n) AS r
        |       FROM v CROSS JOIN nd CROSS JOIN m4
        |       LEFT JOIN c4 ON v.id = c4.id)
        |SELECT id AS doc_id, round(r, 6) AS rank FROM r4
        |ORDER BY doc_id""".stripMargin)),

    // HITS hubs/authorities over the same arithmetic edge set as
    // q_pagerank (2 iterations, L1 sum-normalized) — the oracle replays
    // both iterations as chained CTEs; with hub₀=1 the first authority
    // pass is exactly in-degree, so every score is a ratio of sums
    // HITS: both iterations replayed as chained CTEs — same hub₀=1,
    // same L1 sum normalization, same 6dp terminal round (the pagerank
    // FP argument: sum-order differences are ~1e-15, far under 6dp)
    QuerySpec("q_hits", ((s, d) => {
      val (edges, verts) = syntheticEdges(t(s, d, "documents"))
      LinkGraph.hits(edges, iterations = 2, vertices = Some(verts))
        .select(col("id").as("doc_id"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("doc_id")
    }), Sql(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, unnest([(doc_id*7+1) % nn.n,
        |    (doc_id*13+3) % nn.n, (doc_id+1) % nn.n]) AS dst
        |  FROM documents, nn WHERE doc_id % 17 <> 0)),
        |v AS (SELECT doc_id AS id FROM documents),
        |h0 AS (SELECT id, 1.0 AS h FROM v),
        |a1r AS (SELECT e.dst AS id, sum(h0.h) AS a FROM e
        |        JOIN h0 ON e.src = h0.id GROUP BY 1),
        |a1f AS (SELECT v.id, coalesce(a1r.a, 0) AS a
        |        FROM v LEFT JOIN a1r ON v.id = a1r.id),
        |a1s AS (SELECT sum(a) AS s FROM a1f),
        |a1 AS (SELECT id, CASE WHEN a1s.s > 0 THEN a / a1s.s
        |                       ELSE 0.0 END AS a FROM a1f, a1s),
        |h1r AS (SELECT e.src AS id, sum(a1.a) AS h FROM e
        |        JOIN a1 ON e.dst = a1.id GROUP BY 1),
        |h1f AS (SELECT v.id, coalesce(h1r.h, 0) AS h
        |        FROM v LEFT JOIN h1r ON v.id = h1r.id),
        |h1s AS (SELECT sum(h) AS s FROM h1f),
        |h1 AS (SELECT id, CASE WHEN h1s.s > 0 THEN h / h1s.s
        |                       ELSE 0.0 END AS h FROM h1f, h1s),
        |a2r AS (SELECT e.dst AS id, sum(h1.h) AS a FROM e
        |        JOIN h1 ON e.src = h1.id GROUP BY 1),
        |a2f AS (SELECT v.id, coalesce(a2r.a, 0) AS a
        |        FROM v LEFT JOIN a2r ON v.id = a2r.id),
        |a2s AS (SELECT sum(a) AS s FROM a2f),
        |a2 AS (SELECT id, CASE WHEN a2s.s > 0 THEN a / a2s.s
        |                       ELSE 0.0 END AS a FROM a2f, a2s),
        |h2r AS (SELECT e.src AS id, sum(a2.a) AS h FROM e
        |        JOIN a2 ON e.dst = a2.id GROUP BY 1),
        |h2f AS (SELECT v.id, coalesce(h2r.h, 0) AS h
        |        FROM v LEFT JOIN h2r ON v.id = h2r.id),
        |h2s AS (SELECT sum(h) AS s FROM h2f),
        |h2 AS (SELECT id, CASE WHEN h2s.s > 0 THEN h / h2s.s
        |                       ELSE 0.0 END AS h FROM h2f, h2s)
        |SELECT h2.id AS doc_id, round(h2.h, 6) AS hub,
        |       round(a2.a, 6) AS authority
        |FROM h2 JOIN a2 ON h2.id = a2.id
        |ORDER BY doc_id""".stripMargin)),

    // power-of-two in-degree histogram of the same link graph — the
    // one-glance web-graph shape check (bucket -1 = isolated docs)
    // power-of-two in-degree histogram: same ln-ratio bucket with the
    // same +1e-12 exact-power guard on both sides
    QuerySpec("q_degree_dist", ((s, d) => {
      val (edges, verts) = syntheticEdges(t(s, d, "documents"))
      LinkGraph.degreeDistribution(
        LinkGraph.degrees(edges.distinct(), Some(verts)), "in_degree")
    }), Sql(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, unnest([(doc_id*7+1) % nn.n,
        |    (doc_id*13+3) % nn.n, (doc_id+1) % nn.n]) AS dst
        |  FROM documents, nn WHERE doc_id % 17 <> 0)),
        |ind AS (SELECT dst, count(*) AS c FROM e GROUP BY 1),
        |deg AS (SELECT d.doc_id, coalesce(ind.c, 0) AS dg
        |        FROM documents d LEFT JOIN ind ON d.doc_id = ind.dst)
        |SELECT CASE WHEN dg <= 0 THEN CAST(-1 AS BIGINT)
        |            ELSE CAST(floor(ln(CAST(dg AS DOUBLE))/ln(2.0) + 1e-12)
        |                      AS BIGINT) END AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_vertices
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // within-source quantile normalization of doc length — the step
    // that makes one global "keep the top X%" threshold mean the same
    // thing in every source
    // percent_rank is rank-based — ties share a value, deterministic
    // in both engines without an id tie-break
    QuerySpec("q_quantile_norm", ((s, d) =>
      Mixing.quantileNormalize(t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars")
        .orderBy("doc_id")), Sql(
      """SELECT doc_id, source, n_chars,
        |       round(percent_rank() OVER (
        |         PARTITION BY source ORDER BY n_chars), 6) AS pct_rank
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // structural URL features (scheme/host/path depth/params/fragment)
    // on URLs synthesized from doc arithmetic — crawl-frontier scoring
    // URL features: same synthesized URL, same RE2-safe extraction
    // chain (anchored single-occurrence patterns — no 'g' flag needed)
    QuerySpec("q_url_features", ((s, d) => {
      val id = col("doc_id").cast("long")
      val url = concat(
        when(id % 2 === 0, lit("https://")).otherwise(lit("http://")),
        lit("www."), lower(col("source")), lit(".example.com"),
        when(id % 5 === 0, lit(":8080")).otherwise(lit("")),
        lit("/a/b"), when(id % 4 === 0, lit("/c/d")).otherwise(lit("")),
        when(id % 3 === 0, lit("?x=1&y=2&")).otherwise(lit("")),
        when(id % 7 === 0, lit("#frag")).otherwise(lit("")))
      t(s, d, "documents")
        .select(id.as("doc_id"), WebFilter.urlFeatures(url).as("f"))
        .select(col("doc_id"), col("f.scheme"), col("f.host"),
          col("f.path_depth"), col("f.n_params"), col("f.has_fragment"))
        .orderBy("doc_id")
    }), Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
        |    || 'www.' || lower(source) || '.example.com'
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
        |    || '/a/b' || (CASE WHEN doc_id % 4 = 0 THEN '/c/d' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '?x=1&y=2&' ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |f AS (SELECT doc_id, url,
        |  regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS s0,
        |  regexp_replace(regexp_replace(
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
        |    '^[^@]*@', ''), ':[0-9]*$', '') AS h1,
        |  regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS q FROM u)
        |SELECT doc_id,
        |  CASE WHEN s0 <> '' THEN lower(s0) END AS scheme,
        |  CASE WHEN h1 <> '' THEN lower(h1) END AS host,
        |  CAST(len(list_filter(string_split(path, '/'), x -> x <> ''))
        |       AS BIGINT) AS path_depth,
        |  CASE WHEN q = '' THEN CAST(0 AS BIGINT)
        |       ELSE CAST(len(list_filter(string_split(q, '&'),
        |                                 x -> x <> '')) AS BIGINT)
        |  END AS n_params,
        |  contains(url, '#') AS has_fragment
        |FROM f ORDER BY doc_id""".stripMargin)),

    // per-node triangle counts + local clustering on a deterministic
    // ring-with-chords graph (chord absent on %17 nodes, so triangle
    // closure varies) — the community-density readout PageRank can't
    // see; canonical a<b<c two-join enumeration
    QuerySpec("q_clustering", ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.count()
      val id = col("doc_id").cast("long")
      val edges = docs.select(id.as("src"), ((id + 1) % n).as("dst"))
        .unionByName(docs.where(id % 17 =!= 0)
          .select(id.as("src"), ((id + 2) % n).as("dst")))
      LinkGraph.triangleStats(edges)
    }), Sql(
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
        |  FROM documents, nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents, nn
        |  WHERE doc_id % 17 <> 0),
        |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |      FROM e0 WHERE src <> dst),
        |w AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM e e1 JOIN e e2 ON e2.u = e1.v),
        |tri AS (SELECT w.a, w.b, w.c FROM w
        |        JOIN e ON e.u = w.a AND e.v = w.c),
        |pn AS (SELECT node, count(*) AS n_tri FROM (
        |         SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |         UNION ALL SELECT c FROM tri) GROUP BY 1),
        |deg AS (SELECT node, count(*) AS degree FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1)
        |SELECT deg.node, deg.degree, coalesce(pn.n_tri, 0) AS n_triangles,
        |  round(CASE WHEN deg.degree >= 2
        |    THEN 2.0::DOUBLE * coalesce(pn.n_tri, 0)
        |         / (deg.degree * (deg.degree - 1))
        |    ELSE 0 END, 6) AS clustering
        |FROM deg LEFT JOIN pn USING (node) ORDER BY node""".stripMargin)),

    // degree assortativity (Newman 2002) of the same graph: Pearson of
    // endpoint degrees over symmetrized edges, from EXACT integer
    // sufficient sums (never two engines' streaming corr)
    QuerySpec("q_assortativity", ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.count()
      val id = col("doc_id").cast("long")
      val edges = docs.select(id.as("src"), ((id + 1) % n).as("dst"))
        .unionByName(docs.where(id % 17 =!= 0)
          .select(id.as("src"), ((id + 2) % n).as("dst")))
      LinkGraph.assortativity(edges)
    }), Sql(
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
        |  FROM documents, nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents, nn
        |  WHERE doc_id % 17 <> 0),
        |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |      FROM e0 WHERE src <> dst),
        |deg AS (SELECT node, count(*) AS degree FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |sym AS (
        |  SELECT du.degree AS x, dv.degree AS y FROM e
        |  JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
        |  UNION ALL
        |  SELECT dv.degree, du.degree FROM e
        |  JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |st AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |       FROM sym)
        |SELECT n // 2 AS n_edges,
        |  CASE WHEN (n * sxx - sx * sx) <= 0 OR (n * syy - sy * sy) <= 0
        |       THEN NULL
        |       ELSE round((n * sxy - sx * sy)::DOUBLE
        |            / sqrt((n * sxx - sx * sx)::DOUBLE
        |                   * (n * syy - sy * sy)::DOUBLE), 6)
        |  END AS assortativity
        |FROM st""".stripMargin)),

    // inbound anchor-text aggregation per link target: volume, text
    // diversity, distinct linking docs, top anchor (the free target
    // description web search indexes); pages synthesized like
    // q_outlinks but with varied anchor words
    // anchor aggregation: pages rebuilt like q_outlinks (plus the
    // anchor-word arithmetic), DuckDB's regex engine replays the
    // two-group extraction, the top anchor via the same deterministic
    // (count desc, text) window
    QuerySpec("q_anchor_text", ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.count()
      val id = col("doc_id").cast("long")
      val words = array(lit("home"), lit("read more"), lit("reference"),
        lit("details"), lit("source"))
      def w(e: Column) = element_at(words, (e % 5).cast("int") + 1)
      val pages = docs.select(id.as("doc_id"), concat(
        lit("<html><body><nav><a href=\"/home\">Home</a></nav><p>filler</p>"),
        when(id % 17 =!= 0, concat(
          lit("<a href=\"doc://"), ((id * 7 + 1) % n).cast("string"),
          lit("\">"), w(id), lit("</a> <a href=\"doc://"),
          ((id * 13 + 3) % n).cast("string"),
          lit("\">"), w(id * 3 + 1), lit("</a> <a href=\"doc://"),
          ((id + 1) % n).cast("string"),
          lit("\">"), w(id * 11 + 2), lit("</a>"))).otherwise(lit("")),
        lit("</body></html>")).as("__html"))
      LinkGraph.anchorSummary(
          LinkGraph.extractAnchors(pages, "doc_id", "__html"))
        .withColumnRenamed("dst", "doc_id")
        .orderBy("doc_id")
    }), Sql(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |w AS (SELECT ['home', 'read more', 'reference', 'details',
        |              'source'] AS ws),
        |pg AS (
        |  SELECT doc_id,
        |    '<html><body><nav><a href="/home">Home</a></nav><p>filler</p>'
        |    || CASE WHEN doc_id % 17 <> 0 THEN
        |         '<a href="doc://' || CAST((doc_id*7+1) % nn.n AS VARCHAR)
        |         || '">' || list_extract(w.ws, CAST(doc_id % 5 AS INT) + 1)
        |         || '</a> <a href="doc://'
        |         || CAST((doc_id*13+3) % nn.n AS VARCHAR)
        |         || '">' || list_extract(w.ws, CAST((doc_id*3+1) % 5 AS INT) + 1)
        |         || '</a> <a href="doc://'
        |         || CAST((doc_id+1) % nn.n AS VARCHAR)
        |         || '">' || list_extract(w.ws, CAST((doc_id*11+2) % 5 AS INT) + 1)
        |         || '</a>'
        |       ELSE '' END || '</body></html>' AS html
        |  FROM documents, nn, w),
        |a AS (
        |  SELECT doc_id AS src,
        |    CAST(regexp_extract(tag,
        |      '<a href="doc://(\d+)">([^<]*)</a>', 1) AS BIGINT) AS dst,
        |    regexp_extract(tag,
        |      '<a href="doc://(\d+)">([^<]*)</a>', 2) AS anchor
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(html,
        |          '<a href="doc://(\d+)">([^<]*)</a>')) AS tag FROM pg)),
        |pt AS (SELECT dst, anchor, count(*) AS n FROM a GROUP BY 1, 2),
        |tp AS (SELECT dst, anchor, n,
        |         row_number() OVER (PARTITION BY dst
        |           ORDER BY n DESC, anchor) AS rn,
        |         sum(n) OVER (PARTITION BY dst) AS na,
        |         count(*) OVER (PARTITION BY dst) AS nt
        |       FROM pt),
        |ps AS (SELECT dst, count(*) AS ns
        |       FROM (SELECT DISTINCT dst, src FROM a) GROUP BY 1)
        |SELECT tp.dst AS doc_id, CAST(na AS BIGINT) AS n_anchors,
        |       CAST(nt AS BIGINT) AS n_texts, CAST(ns AS BIGINT) AS n_srcs,
        |       anchor AS top_anchor
        |FROM tp JOIN ps ON tp.dst = ps.dst
        |WHERE rn = 1 ORDER BY 1""".stripMargin)),

    // packing-efficiency audit over the greedy doc-boundary packer:
    // fill rate and under/oversize pack counts per source — the padding
    // bill a trainer pays (all integer ratios)
    // packing efficiency: the q_pack_documents recursive walk plus the
    // per-pack and per-source rollups — every output an integer or a
    // ratio of integers
    QuerySpec("q_pack_efficiency", ((s, d) =>
      Packing.packEfficiency(
          Packing.greedyPack(t(s, d, "documents"), "source", "doc_id",
            "n_chars", budget = 1000),
          "source", "n_chars", budget = 1000)
        .orderBy("source")), Sql(
      """WITH RECURSIVE ordered AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT source, doc_id, n_chars, rn,
        |         CAST(0 AS BIGINT) AS pack_id, 0 AS pack_pos, n_chars AS acc
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.source, o.doc_id, o.n_chars, o.rn,
        |         CASE WHEN p.acc + o.n_chars <= 1000
        |              THEN p.pack_id ELSE p.pack_id + 1 END,
        |         CASE WHEN p.acc + o.n_chars <= 1000
        |              THEN p.pack_pos + 1 ELSE 0 END,
        |         CASE WHEN p.acc + o.n_chars <= 1000
        |              THEN p.acc + o.n_chars ELSE o.n_chars END
        |  FROM packed p JOIN ordered o
        |    ON o.source = p.source AND o.rn = p.rn + 1),
        |per AS (
        |  SELECT source, pack_id, sum(n_chars) AS used, count(*) AS docs
        |  FROM packed GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_packs,
        |       CAST(sum(docs) AS BIGINT) AS n_docs,
        |       CAST(sum(used) AS BIGINT) AS used_total,
        |       CAST(count(*) * 1000 AS BIGINT) AS capacity,
        |       round(CAST(sum(used) AS DOUBLE)
        |             / CAST(count(*) * 1000 AS DOUBLE), 6) AS fill_rate,
        |       CAST(sum(CASE WHEN used < 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_underfull,
        |       CAST(sum(CASE WHEN used > 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_oversize
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // token-budget epoch table: 1M-token budget against the LLaMA-style
    // normalized mixture — per-source epochs (memorization flag) from
    // one count aggregate + a broadcast weight literal; the planted
    // 'scraped' source shows up with weight 0 (unweighted-corpus loud
    // path)
    // epoch budget: the same literal normalized weights (no
    // renormalization arithmetic on either engine), floor targets,
    // integer-ratio epochs; full join keeps weight-0 'scraped' loud
    QuerySpec("q_epoch_budget", ((s, d) =>
      Mixing.epochBudget(seqFromDocs(s, d), "source", "n_tok",
          budgetTokens = 1000000L,
          weights = Seq("web" -> 0.5, "books" -> 0.25, "code" -> 0.15,
            "wiki" -> 0.1))
        .orderBy("source")), Sql(
      s"""WITH $SeqTableCte,
        |av AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS available_tokens
        |       FROM s2 GROUP BY 1),
        |w AS (SELECT * FROM (VALUES ('web', 0.5), ('books', 0.25),
        |        ('code', 0.15), ('wiki', 0.1)) AS t(source, w))
        |SELECT coalesce(av.source, w.source) AS source,
        |  CAST(coalesce(available_tokens, 0) AS BIGINT) AS available_tokens,
        |  round(coalesce(w.w, 0), 6) AS weight,
        |  CAST(floor(1000000 * coalesce(w.w, 0)) AS BIGINT) AS target_tokens,
        |  CASE WHEN coalesce(available_tokens, 0) > 0 THEN
        |    round(CAST(floor(1000000 * coalesce(w.w, 0)) AS DOUBLE)
        |          / CAST(available_tokens AS DOUBLE), 6) END AS epochs
        |FROM av FULL JOIN w ON av.source = w.source
        |ORDER BY 1""".stripMargin)),

    // JSONL-column ingest QC: deterministic JSON records built from the
    // documents row (doc_id%13 prefixed-corrupt), field extraction +
    // parse-probe validity as ONE projection — malformed rows flagged,
    // never dropped
    // JSONL-column ingest: identical record synthesis, json_valid +
    // path extraction mirror get_json_object's null-on-malformed
    QuerySpec("q_json_extract", ((s, d) => {
      val j0 = concat(lit("{\"doc_id\":"), col("doc_id"),
        lit(",\"lang\":\""), coalesce(col("lang"), lit("und")),
        lit("\",\"source\":\""), coalesce(col("source"), lit("unknown")),
        lit("\",\"n_chars\":"), coalesce(col("n_chars"), lit(-1L)),
        lit("}"))
      val withJson = t(s, d, "documents").withColumn("js",
        when(col("doc_id") % 13 === 0, concat(lit("X"), j0)).otherwise(j0))
      graft.sources.JsonIngest.extractFields(withJson, "js",
          Seq(("ex_lang", "$.lang", "string"),
            ("ex_source", "$.source", "string"),
            ("ex_n", "$.n_chars", "bigint")),
          probePath = "$.doc_id")
        .select(col("doc_id"), col("json_ok"), col("ex_lang"),
          col("ex_source"), col("ex_n"))
        .transform(orderedOnce(_, "doc_id"))
    }), Sql(
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0 THEN 'X' || j ELSE j END AS js
         |  FROM (
         |    SELECT doc_id,
         |      '{"doc_id":' || doc_id
         |        || ',"lang":"' || coalesce(lang, 'und')
         |        || '","source":"' || coalesce(source, 'unknown')
         |        || '","n_chars":' || coalesce(n_chars, -1) || '}' AS j
         |    FROM documents))
         |SELECT doc_id,
         |  (CASE WHEN json_valid(js)
         |        THEN json_extract_string(js, '$$.doc_id') END)
         |    IS NOT NULL AS json_ok,
         |  CASE WHEN json_valid(js)
         |       THEN json_extract_string(js, '$$.lang') END AS ex_lang,
         |  CASE WHEN json_valid(js)
         |       THEN json_extract_string(js, '$$.source') END AS ex_source,
         |  CAST(CASE WHEN json_valid(js)
         |       THEN json_extract_string(js, '$$.n_chars') END AS BIGINT)
         |    AS ex_n
         |FROM p ORDER BY doc_id""".stripMargin)),

    // the one-pass QC rollup over the same parsed frame: malformed
    // count + per-field null counts among well-formed records
    // the one-pass QC rollup over the same parsed frame
    QuerySpec("q_json_qc", ((s, d) => {
      val j0 = concat(lit("{\"doc_id\":"), col("doc_id"),
        lit(",\"lang\":\""), coalesce(col("lang"), lit("und")),
        lit("\",\"source\":\""), coalesce(col("source"), lit("unknown")),
        lit("\",\"n_chars\":"), coalesce(col("n_chars"), lit(-1L)),
        lit("}"))
      val withJson = t(s, d, "documents").withColumn("js",
        when(col("doc_id") % 13 === 0, concat(lit("X"), j0)).otherwise(j0))
      val parsed = graft.sources.JsonIngest.extractFields(withJson, "js",
        Seq(("ex_lang", "$.lang", "string"),
          ("ex_source", "$.source", "string"),
          ("ex_n", "$.n_chars", "bigint")),
        probePath = "$.doc_id")
      graft.sources.JsonIngest.qcStats(parsed,
        Seq("ex_lang", "ex_source", "ex_n"))
    }), Sql(
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0 THEN 'X' || j ELSE j END AS js
         |  FROM (
         |    SELECT doc_id,
         |      '{"doc_id":' || doc_id
         |        || ',"lang":"' || coalesce(lang, 'und')
         |        || '","source":"' || coalesce(source, 'unknown')
         |        || '","n_chars":' || coalesce(n_chars, -1) || '}' AS j
         |    FROM documents)),
         |e AS (
         |  SELECT doc_id,
         |    (CASE WHEN json_valid(js)
         |          THEN json_extract_string(js, '$$.doc_id') END)
         |      IS NOT NULL AS json_ok,
         |    CASE WHEN json_valid(js)
         |         THEN json_extract_string(js, '$$.lang') END AS ex_lang,
         |    CASE WHEN json_valid(js)
         |         THEN json_extract_string(js, '$$.source') END
         |      AS ex_source,
         |    CAST(CASE WHEN json_valid(js)
         |         THEN json_extract_string(js, '$$.n_chars') END AS BIGINT)
         |      AS ex_n
         |  FROM p)
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN json_ok THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_malformed,
         |  CAST(sum(CASE WHEN json_ok AND ex_lang IS NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_null_ex_lang,
         |  CAST(sum(CASE WHEN json_ok AND ex_source IS NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_null_ex_source,
         |  CAST(sum(CASE WHEN json_ok AND ex_n IS NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_null_ex_n
         |FROM e""".stripMargin)),

    // crawl-URL canonicalization: case/port/tracking-param/fragment/
    // param-order noise collapsed before URL-keyed dedup; the oracle
    // computes the expected canonical string directly
    QuerySpec("q_canonical_url", ((s, d) => {
      val raw = concat(lit("HTTP://WWW."), upper(col("source")),
        lit(".Example.COM:80/docs/"), col("doc_id"),
        lit("?b=2&utm_source=feed&a=1&fbclid=xyz#frag"))
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.CanonicalUrl.canonicalUrl(raw).as("url"))
        .orderBy("doc_id")
    }), Sql(
      """SELECT doc_id,
        |       'http://www.' || lower(source) || '.example.com/docs/'
        |         || doc_id || '?a=1&b=2' AS url
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("q_mixing", ((s, d) => {
      // deterministic dataset mixing: per-source keep-fractions via the
      // modulo-bucket path (hash path is production; modulo is the
      // oracle-replicable spelling) + realized-mix observability
      val docs = t(s, d, "documents")
      val weights = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
      val sampled = Mixing.sampleByWeights(docs, "doc_id", "source",
        weights, defaultWeight = 0.05, granularity = 100, hashKey = false)
      Mixing.realizedMix(sampled, "source").orderBy("source")
    }), Sql(
      """WITH sampled AS (
        |  SELECT * FROM documents
        |  WHERE (doc_id % 100) < (CASE source WHEN 'src0' THEN 100
        |    WHEN 'src1' THEN 50 WHEN 'src2' THEN 25 ELSE 5 END)),
        |c AS (SELECT source, count(*) AS n FROM sampled GROUP BY 1),
        |t AS (SELECT sum(n)::DOUBLE AS t FROM c)
        |SELECT source, n, round(n / t.t, 6) AS fraction
        |FROM c, t ORDER BY source""".stripMargin)),

    // per-key document cap ("at most N pages per domain"): keep the cap
    // smallest (rank, id) rows per source — salted two-phase threshold
    // on a narrow frame, payload filtered via broadcast join; the
    // multiplicative-mix rank is the SQL-replicable oracle spelling
    // (production default ranks by xxhash64(id, seed))
    QuerySpec("q_cap_per_source", ((s, d) => {
      val h = (col("doc_id") * lit(2654435761L) + lit(7L)) % lit(4294967296L)
      Mixing.capPerKey(t(s, d, "documents"), "source", "doc_id", 15,
          rankExpr = Some(h))
        .select(col("doc_id"), col("source"))
    }), Sql(
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY (doc_id * 2654435761 + 7) % 4294967296, doc_id)
        |           AS rn
        |  FROM documents) WHERE rn <= 15""".stripMargin)),

    // deterministic train/val/test assignment: modulo-bucket oracle mode
    // (granularity 100 so all three splits appear at sf0.01's id range)
    QuerySpec("q_split_sets", ((s, d) =>
      Mixing.assignSplits(t(s, d, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          granularity = 100, hashKey = false)
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("split")), Sql(
      """SELECT split, count(*) AS n, min(doc_id) AS min_id,
        |       max(doc_id) AS max_id
        |FROM (SELECT doc_id,
        |        CASE WHEN doc_id % 100 < 80 THEN 'train'
        |             WHEN doc_id % 100 < 90 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin)),

    // seed-keyed deterministic epoch shuffle: top-100 of the permutation
    // order (orderBy+limit = TakeOrderedAndProject, no global sort
    // materialized for the check; the full sort is one range exchange).
    // Knuth multiplicative hash here because it's plain-SQL-replicable;
    // xxhash64 is the production default in Mixing.epochOrder
    QuerySpec("q_epoch_order", ((s, d) => {
      def h(c: Column) = (c * lit(2654435761L) + lit(42L)) % lit(4294967296L)
      Mixing.epochOrder(t(s, d, "documents"), "doc_id", 42L,
          hashExpr = Some(h(col("doc_id"))))
        .select(col("doc_id"), h(col("doc_id")).as("h"))
        .limit(100)
    }), Sql(
      """SELECT doc_id, (doc_id * 2654435761 + 42) % 4294967296 AS h
        |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin)),

    // concat-and-chunk packing placement: every doc's global token
    // offset (two-level distributed prefix sum — no SinglePartition
    // window) and the fixed 512-token training windows it spans
    QuerySpec("q_concat_pack", ((s, d) =>
      Packing.concatChunk(
          decontamCorpus(s, d).select(col("doc_id"), col("n_tok")),
          "doc_id", "n_tok", windowLen = 512L)
        .select(col("doc_id"), col("n_tok"), col("offset").as("tok_offset"),
          col("first_window"), col("last_window"))
        .orderBy("doc_id")), Sql(
      s"""WITH $SeqTableCte,
        |corpus AS (SELECT did, n_tok FROM s2 WHERE starts_with(did, 'doc_')),
        |o AS (SELECT did, n_tok,
        |        CAST(coalesce(sum(n_tok) OVER (ORDER BY did
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS tok_offset
        |      FROM corpus)
        |SELECT did AS doc_id, CAST(n_tok AS BIGINT) AS n_tok, tok_offset,
        |       tok_offset // 512 AS first_window,
        |       CASE WHEN n_tok > 0 THEN (tok_offset + n_tok - 1) // 512
        |            ELSE tok_offset // 512 END AS last_window
        |FROM o ORDER BY doc_id""".stripMargin)),

    // the assembled packed windows: scalar projections of each window's
    // token array (size / sum / ends) verify CONTENT AND ORDER of the
    // reassembly against the oracle's global-position replica
    // cost = ACTUAL array size (the planted n_tok≠size rows must not
    // drift the reassembly offsets)
    QuerySpec("q_pack_windows", ((s, d) =>
      Packing.materializeWindows(
          decontamCorpus(s, d).select(col("doc_id"), col("tokens"))
            .withColumn("sz", size(col("tokens"))),
          "doc_id", "tokens", "sz", windowLen = 512L)
        .select(col("window_id"),
          size(col("tokens")).cast("long").as("n_tok"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("tok_sum"),
          element_at(col("tokens"), 1).cast("long").as("first_tok"),
          element_at(col("tokens"), -1).cast("long").as("last_tok"))
        .orderBy("window_id")), Sql(
      s"""WITH $SeqTableCte,
        |corpus AS (SELECT did, toks FROM s2 WHERE starts_with(did, 'doc_')),
        |o AS (SELECT did, toks,
        |        CAST(coalesce(sum(len(toks)) OVER (ORDER BY did
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS toff
        |      FROM corpus),
        |t AS (SELECT toff + pos AS gpos, tok FROM (
        |        SELECT toff, unnest(toks) AS tok,
        |               unnest(range(0, len(toks))) AS pos FROM o))
        |SELECT gpos // 512 AS window_id, count(*) AS n_tok,
        |       CAST(sum(tok) AS BIGINT) AS tok_sum,
        |       CAST(arg_min(tok, gpos) AS BIGINT) AS first_tok,
        |       CAST(arg_max(tok, gpos) AS BIGINT) AS last_tok
        |FROM t GROUP BY 1 ORDER BY window_id""".stripMargin)),

    // greedy sequence packing: per-source first-fit into 1000-char
    // packs, walked in doc_id order — a sequential per-group fold
    // (typed flatMapSortedGroups); oracle replays the identical fold
    // as a recursive CTE stepping one row per source per iteration
    QuerySpec("q_pack_documents", ((s, d) =>
      Packing.greedyPack(t(s, d, "documents"), "source", "doc_id", "n_chars",
          budget = 1000)
        .select("source", "doc_id", "n_chars", "pack_id", "pack_pos")
        .orderBy("source", "doc_id")), Sql(
      """WITH RECURSIVE ordered AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT source, doc_id, n_chars, rn,
        |         CAST(0 AS BIGINT) AS pack_id, 0 AS pack_pos, n_chars AS acc
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.source, o.doc_id, o.n_chars, o.rn,
        |         CASE WHEN p.acc + o.n_chars <= 1000
        |              THEN p.pack_id ELSE p.pack_id + 1 END,
        |         CASE WHEN p.acc + o.n_chars <= 1000
        |              THEN p.pack_pos + 1 ELSE 0 END,
        |         CASE WHEN p.acc + o.n_chars <= 1000
        |              THEN p.acc + o.n_chars ELSE o.n_chars END
        |  FROM packed p JOIN ordered o
        |    ON o.source = p.source AND o.rn = p.rn + 1)
        |SELECT source, doc_id, n_chars, pack_id, pack_pos
        |FROM packed ORDER BY source, doc_id""".stripMargin)),

    // in-batch negative collision audit: same-source pairs landing in
    // the same hash-assigned contrastive batch (the "negatives" that
    // are secretly positives) — realized rate of THIS batching, not
    // the i.i.d. approximation
    QuerySpec("q_inbatch_collisions", ((s, d) =>
      Mixing.inBatchCollisions(t(s, d, "documents"), "doc_id", "source",
        nBatches = 16, seed = 11L)), Sql(
      """WITH b AS (
        |  SELECT ((doc_id * 2654435761 + 11) % 4294967296) % 16 AS b,
        |         coalesce(source, '<null>') AS g
        |  FROM documents),
        |bg AS (SELECT b, g, count(*) AS n FROM b GROUP BY 1, 2),
        |st AS (SELECT sum(n) AS n_docs, count(DISTINCT b) AS nb,
        |         sum((n * (n - 1)) // 2) AS sp FROM bg),
        |pb AS (SELECT sum((nb2 * (nb2 - 1)) // 2) AS tp FROM
        |        (SELECT b, sum(n) AS nb2 FROM bg GROUP BY 1))
        |SELECT CAST(st.n_docs AS BIGINT) AS n_docs,
        |  CAST(st.nb AS BIGINT) AS n_batches_used,
        |  CAST(st.sp AS BIGINT) AS same_group_pairs,
        |  CAST(pb.tp AS BIGINT) AS total_pairs,
        |  CASE WHEN pb.tp > 0 THEN round(st.sp::DOUBLE / pb.tp, 6) END
        |    AS collision_rate
        |FROM st, pb""".stripMargin)),

    // deterministic MLM mask planning over the derived seq table:
    // position i masks iff (i*A + key*31) % 100 < 15 — a function of
    // the row, so the plan replays identically on any cluster; per-seq
    // loss-mass accounting
    QuerySpec("q_mask_plan", ((s, d) =>
      Packing.maskPlan(
        decontamCorpus(s, d)
          .withColumn("__idn", substring(col("doc_id"), 5, 12)
            .cast("long")),
        "doc_id", "__idn", "n_tok", ratePct = 15, seed = 0L)), Sql(
      """WITH s AS (
        |  SELECT doc_id AS idn, printf('doc_%012d', doc_id) AS did,
        |    CASE WHEN doc_id % 97 = 2 THEN (doc_id % 7 + 5) + 1
        |         ELSE doc_id % 7 + 5 END AS n_tok
        |  FROM documents
        |  WHERE doc_id % 97 <> 0 AND doc_id % 97 <> 1)
        |SELECT did AS doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(len(list_filter(range(n_tok), i ->
        |    (i * 2654435761 + idn * 31) % 100 < 15)) AS BIGINT)
        |    AS n_masked,
        |  CASE WHEN n_tok > 0 THEN
        |    round(len(list_filter(range(n_tok), i ->
        |      (i * 2654435761 + idn * 31) % 100 < 15))::DOUBLE / n_tok, 6)
        |  END AS mask_rate
        |FROM s ORDER BY doc_id""".stripMargin)),

    // context-window budgeting: token mass lost past K=8 per source —
    // a source with heavy loss is a different (head-only) corpus after
    // packing, which no length histogram states directly
    QuerySpec("q_truncation_loss", ((s, d) =>
      Packing.truncationLoss(seqFromDocs(s, d), "source", "n_tok",
        window = 8)), Sql(
      s"""WITH $SeqTableCte
        |SELECT source, count(*) AS n_seqs,
        |  CAST(sum(CASE WHEN n_tok > 8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_truncated,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
        |  CAST(sum(greatest(n_tok - 8, 0)) AS BIGINT) AS tokens_lost,
        |  round(sum(greatest(n_tok - 8, 0))::DOUBLE / sum(n_tok), 6)
        |    AS loss_share
        |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // distribution-matching plan: per-bin keep fractions that reshape
    // src1's length distribution into src0's (the length-match-before-
    // compare step); bottleneck-bin scaling, unmatchable bins surfaced
    QuerySpec("q_dist_match", ((s, d) =>
      Mixing.distributionMatchPlan(t(s, d, "documents"), "source",
        "n_chars", refGroup = "src0", targetGroup = "src1",
        lo = 0.0, hi = 600.0, bins = 12)), Sql(
      """WITH b AS (
        |  SELECT CAST(CASE WHEN n_chars < 0 THEN 0
        |              WHEN n_chars >= 600.0 THEN 11
        |              ELSE least(11, CAST(floor((n_chars - 0.0::DOUBLE)
        |                / ((600.0::DOUBLE - 0.0::DOUBLE) / 12)) AS INT))
        |         END AS BIGINT) AS bin, source
        |  FROM documents
        |  WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
        |c AS (SELECT bin, source, count(*) AS n FROM b GROUP BY 1, 2),
        |tot AS (SELECT sum(CASE WHEN source = 'src0' THEN n END) AS na,
        |               sum(CASE WHEN source = 'src1' THEN n END) AS nb
        |        FROM c),
        |bins2 AS (SELECT DISTINCT bin FROM c),
        |sh AS (SELECT bins2.bin,
        |         coalesce((SELECT n FROM c WHERE c.bin = bins2.bin
        |                   AND source = 'src0'), 0)::DOUBLE / tot.na AS a,
        |         coalesce((SELECT n FROM c WHERE c.bin = bins2.bin
        |                   AND source = 'src1'), 0)::DOUBLE / tot.nb AS bb,
        |         coalesce((SELECT n FROM c WHERE c.bin = bins2.bin
        |                   AND source = 'src1'), 0) AS nbr
        |       FROM bins2, tot),
        |s AS (SELECT min(bb / a) AS s FROM sh WHERE a > 0 AND bb > 0)
        |SELECT bin, round(a, 6) AS ref_share,
        |  round(bb, 6) AS target_share,
        |  round(CASE WHEN bb = 0 THEN 0
        |        ELSE least(1.0::DOUBLE, a / bb * s.s) END, 6)
        |    AS keep_fraction,
        |  CAST(round(CASE WHEN bb = 0 THEN 0
        |        ELSE least(1.0::DOUBLE, a / bb * s.s) END * nbr, 0)
        |    AS BIGINT) AS expected_kept,
        |  (a > 0 AND bb = 0) AS unmatchable
        |FROM sh, s ORDER BY bin""".stripMargin)),

    // MMR diversity-aware selection: greedy lambda*rel - (1-lambda)*
    // max-sim-to-selected — covers the relevant region instead of
    // stacking near-duplicates of the top hit; k bounded TakeOrdered
    // jobs, selected vectors ride the plan as literals
    QuerySpec("q_mmr", ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Selection.mmrSelect(emb, "vec_id", "embedding", q, k = 5,
        lambda = 0.7)
    }), Sql(mmrOracle(5))),

    // epoch-shuffle independence: EXACT integer Spearman rho between
    // two seeds' epoch orders (bijective multiplicative keys -> no
    // ties, no fp) — are epochs independent reorderings or replays
    QuerySpec("q_shuffle_quality", ((s, d) =>
      Mixing.shuffleIndependence(t(s, d, "documents"), "doc_id",
        seed1 = 1L, seed2 = 2L)), Sql(
      """WITH k0 AS (
        |  SELECT doc_id,
        |    ((doc_id % 2147483648) * 4096 + 1 * 81) % 4294967296 AS a0,
        |    ((doc_id % 2147483648) * 4096 + 2 * 81) % 4294967296 AS b0
        |  FROM documents),
        |h1 AS (SELECT doc_id,
        |    (xor(a0, a0 >> 16) * 569557677) % 4294967296 AS a1,
        |    (xor(b0, b0 >> 16) * 569557677) % 4294967296 AS b1
        |  FROM k0),
        |h2 AS (SELECT doc_id,
        |    (xor(a1, a1 >> 15) * 1935933847) % 4294967296 AS a2,
        |    (xor(b1, b1 >> 15) * 1935933847) % 4294967296 AS b2
        |  FROM h1),
        |k AS (SELECT doc_id, xor(a2, a2 >> 15) AS k1,
        |             xor(b2, b2 >> 15) AS k2
        |      FROM h2),
        |r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY k1, doc_id) AS r1,
        |    row_number() OVER (ORDER BY k2, doc_id) AS r2
        |  FROM k),
        |st AS (SELECT count(*) AS n,
        |         sum((r1 - r2) * (r1 - r2)) AS d2 FROM r)
        |SELECT n, CAST(d2 AS BIGINT) AS sum_d2,
        |  CASE WHEN n >= 2 THEN
        |    round(1.0::DOUBLE - 6.0::DOUBLE * d2
        |          / (n::DOUBLE * (n::DOUBLE * n::DOUBLE - 1.0::DOUBLE)),
        |          6)
        |  END AS rho
        |FROM st""".stripMargin)),

    // length-bucketed batching accounting: power-of-two buckets via
    // integer bin-length (never floor(log2) — double rounding
    // mis-buckets exact powers), pad-to-longest-in-bucket waste per
    // bucket — the dataloader regime next to greedy pack / concat-chunk
    QuerySpec("q_length_buckets", ((s, d) =>
      Packing.lengthBucketStats(t(s, d, "documents"), "n_chars",
        batchSize = 64)), Sql(
      """WITH b AS (
        |  SELECT CAST(CASE WHEN n_chars IS NULL OR n_chars < 1 THEN -1
        |              ELSE length(bin(n_chars)) - 1 END AS INTEGER)
        |           AS bucket,
        |         CASE WHEN n_chars IS NULL OR n_chars < 1 THEN 0
        |              ELSE n_chars END AS len
        |  FROM documents),
        |g AS (SELECT bucket, count(*) AS n_docs,
        |             CAST(sum(len) AS BIGINT) AS token_mass,
        |             CAST(max(len) AS BIGINT) AS max_len
        |      FROM b GROUP BY 1)
        |SELECT bucket,
        |       CASE WHEN bucket >= 0 THEN CAST(power(2, bucket) AS BIGINT)
        |            ELSE 0 END AS bucket_lo,
        |       CASE WHEN bucket >= 0
        |            THEN CAST(power(2, bucket + 1) AS BIGINT) - 1
        |            ELSE 0 END AS bucket_hi,
        |       n_docs, token_mass, max_len,
        |       n_docs * max_len AS padded_mass,
        |       CASE WHEN max_len > 0
        |            THEN round(token_mass / CAST(n_docs * max_len AS DOUBLE), 6)
        |            ELSE 0.0 END AS utilization,
        |       CAST(ceil(n_docs / 64.0) AS BIGINT) AS n_batches
        |FROM g ORDER BY bucket""".stripMargin)),

    // perceptual image near-dup planted recall: 150 noisy PNGs + exact
    // byte copies (id + 1000000); identical payloads hash to identical
    // dHashes, so the banded Hamming join must surface every pair — the
    // visual analogue of q_simhash_recall
    // planted image pairs: one (id, id+1000000) exact-copy pair per
    // synthetic PNG — identical bytes ⇒ identical dHash ⇒ Hamming 0
    QuerySpec("q_image_neardup", ((s, _) => {
      import s.implicits._
      val base = s.range(150).map { id =>
        val w = 24 + (id % 5).toInt; val h = 20 + (id % 4).toInt
        Multimodal.MediaRecord(id, Multimodal.syntheticNoisyPng(id, w, h),
          "image/png", w, h, 0L)
      }
      val doubled = base.union(
        base.map(r => r.copy(media_id = r.media_id + 1000000)))
      Dedup.hammingNearDuplicates(
          Multimodal.imageDHashes(doubled), "media_id", "dhash",
          maxHamming = 0)
        .where(col("id_b") === col("id_a") + 1000000)
        .agg(count(lit(1)).as("n_planted_found"))
    }), Sql(
      "SELECT count(*) AS n_planted_found FROM documents WHERE doc_id < 150")),

    QuerySpec("q_multimodal_features", ((s, _) => {
      val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 300))
      orderedOnce(
        feats.toDF().select(col("media_id"), col("mime"), col("n_bytes"),
          col("frames_sampled")),
        "media_id")
    }), RowsOnly("JPEG/PNG/WAV decode output isn't SQL-expressible")),

    // oracle companion for the multimodal pass: mime and frames_sampled
    // ARE SQL-expressible (mime by the generator's id%3 arithmetic;
    // frames_sampled = 1 for decodable stills/audio, min(frameSample=4,
    // nFrames≥4) = 4 for video) — so the codec plumbing (every payload
    // decodes, every mime routes to the right codec) gets a green
    // CORRECTNESS row; only n_bytes/features stay rows-only (encoder
    // byte output / pixel math). Ids ride the documents table so the
    // oracle touches only real parquet.
    // multimodal metadata: the generator's id%3 mime routing and the
    // decode contract (stills/audio sample 1 frame; 4-6-frame MJPEG
    // clips sample min(frameSample=4, nFrames) = 4) replicated in SQL;
    // ids ride the dense documents.doc_id domain
    QuerySpec("q_multimodal_meta", ((s, _) => {
      val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 300))
      orderedOnce(
        feats.toDF().select(col("media_id"), col("mime"),
          col("frames_sampled")),
        "media_id")
    }), Sql(
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/x-msvideo' END AS mime,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 4 ELSE 1 END AS INTEGER)
        |    AS frames_sampled
        |FROM documents WHERE doc_id < 300 ORDER BY media_id""".stripMargin)),

    // one DoReMi multiplicative-weights mixture update: proxy loss =
    // mean(n_chars mod 97) per source (exact integer sufficient stats,
    // so both engines divide the same exact sums), reference loss = the
    // global mean of the same signal, base = raw counts (renormalized
    // by the update); eta = 0.1 — sources with above-reference loss
    // gain mixture mass
    QuerySpec("q_doremi_step", ((s, d) => {
      val docs = t(s, d, "documents")
      val lb = docs.groupBy("source")
        .agg(count(lit(1)).as("n"),
          (sum(col("n_chars") % 97).cast("double") /
            count(col("n_chars")).cast("double")).as("loss"))
        .crossJoin(docs.agg(
          (sum(col("n_chars") % 97).cast("double") /
            count(col("n_chars")).cast("double")).as("ref_loss")))
      Mixing.domainReweight(lb, "source", "n", "loss", "ref_loss", eta = 0.1)
        .orderBy("source")
    }), Sql(
      """WITH l AS (
        |  SELECT source, count(*) AS n,
        |    CAST(sum(n_chars % 97) AS DOUBLE)
        |      / CAST(count(n_chars) AS DOUBLE) AS loss
        |  FROM documents GROUP BY 1),
        |g AS (
        |  SELECT CAST(sum(n_chars % 97) AS DOUBLE)
        |           / CAST(count(n_chars) AS DOUBLE) AS ref_loss
        |  FROM documents),
        |sc AS (
        |  SELECT source,
        |    greatest(coalesce(loss - ref_loss, 0.0), 0.0) AS excess,
        |    CAST(n AS DOUBLE)
        |      * exp(0.1 * greatest(coalesce(loss - ref_loss, 0.0), 0.0))
        |      AS raw
        |  FROM l, g),
        |z AS (SELECT sum(raw) AS z FROM sc)
        |SELECT source, round(excess, 6) AS excess,
        |       round(raw / z, 6) AS weight
        |FROM sc, z ORDER BY source""".stripMargin)),

    // robots-style longest-prefix path rules (RFC 9309 semantics:
    // longest match decides, ties go to allow, no match = allowed)
    // over the synthesized host/path grid — the crawl-compliance gate;
    // rules broadcast, winner via max-of-struct aggregate, no window
    QuerySpec("q_robots_filter", ((s, d) => {
      import s.implicits._
      val host0 = when(col("doc_id") % 3 === 0,
          concat(lower(col("source")), lit(".example.com")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("www."), lower(col("source")), lit(".example.com")))
        .otherwise(concat(lower(col("source")), lit(".net")))
      val withUrl = t(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("http://"), host0, lit("/p/"), col("doc_id")).as("url"))
      val rules = Seq(
        ("src1.example.com", "/", false),
        ("src1.example.com", "/p/1", true),
        ("www.src2.example.com", "/p", false),
        ("src4.net", "/p/4", false),
        ("src4.net", "/p/44", true),
        ("src7.net", "/", false),
        ("src7.net", "/p/7", false)).toDF("host", "prefix", "allow")
      graft.operators.WebFilter.robotsVerdict(withUrl, "doc_id", "url", rules)
        .select(col("doc_id"),
          graft.operators.WebFilter.hostOf(col("url")).as("host"),
          col("allowed"))
        .orderBy("doc_id")
    }), Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN lower(source) || '.example.com'
        |         WHEN doc_id % 3 = 1
        |           THEN 'www.' || lower(source) || '.example.com'
        |         ELSE lower(source) || '.net' END AS host,
        |    '/p/' || doc_id AS path
        |  FROM documents),
        |r AS (SELECT * FROM (VALUES
        |    ('src1.example.com', '/', false),
        |    ('src1.example.com', '/p/1', true),
        |    ('www.src2.example.com', '/p', false),
        |    ('src4.net', '/p/4', false),
        |    ('src4.net', '/p/44', true),
        |    ('src7.net', '/', false),
        |    ('src7.net', '/p/7', false)) t(host, prefix, allow)),
        |m AS (
        |  SELECT doc_id, allow, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY length(prefix) DESC, allow DESC) AS rn
        |  FROM u JOIN r ON u.host = r.host
        |              AND starts_with(u.path, r.prefix))
        |SELECT u.doc_id, u.host,
        |       coalesce(m.allow, true) AS allowed
        |FROM u LEFT JOIN (SELECT doc_id, allow FROM m WHERE rn = 1) m
        |  ON u.doc_id = m.doc_id
        |ORDER BY u.doc_id""".stripMargin)),

    // exact-count stratified sampling: EXACTLY ceil(0.1 * n_s) docs per
    // source in deterministic seeded-hash order — the eval-set builder;
    // per-stratum rank window over narrow rows, payload via semi-join
    QuerySpec("q_stratified_sample", ((s, d) =>
      Mixing.stratifiedSample(t(s, d, "documents"), "doc_id", "source",
          fraction = 0.1, seed = 11L, hashKey = false)
        .select("doc_id", "source").orderBy("doc_id")), Sql(
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761 + 11) % 4294967296, doc_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source FROM r
        |WHERE rn <= CAST(ceil(n * 0.1) AS BIGINT)
        |ORDER BY doc_id""".stripMargin)),

    // per-host quality reputation (the crawl-frontier domain prior):
    // pass rate of a length gate per synthesized host — one
    // map-side-combined aggregate, docs never shuffle
    QuerySpec("q_host_reputation", ((s, d) => {
      val host0 = when(col("doc_id") % 3 === 0,
          concat(lower(col("source")), lit(".example.com")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("www."), lower(col("source")), lit(".example.com")))
        .otherwise(concat(lower(col("source")), lit(".net")))
      val withUrl = t(s, d, "documents").select(col("doc_id"),
        concat(lit("http://"), host0, lit("/p/"), col("doc_id")).as("url"),
        col("n_chars").between(200, 3000).as("keep"))
      graft.operators.WebFilter.hostQuality(withUrl, "url", "keep")
        .orderBy("host")
    }), Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN lower(source) || '.example.com'
        |         WHEN doc_id % 3 = 1
        |           THEN 'www.' || lower(source) || '.example.com'
        |         ELSE lower(source) || '.net' END AS host,
        |    n_chars BETWEEN 200 AND 3000 AS keep
        |  FROM documents)
        |SELECT host, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS keep_rate
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WARC record header/payload extraction (ISO 28500, the Common
    // Crawl wire format): records synthesized deterministically per doc
    // with a garbled-length arm (try_cast NULL) and a missing-separator
    // arm (payload NULL, len 0); pure codegen'd projection
    QuerySpec("q_warc_extract", ((s, d) => {
      val crlf = "\r\n"
      val rec = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: http://"),
        lower(col("source")), lit(".example.com/p/"), col("doc_id"),
        lit(crlf),
        when(col("doc_id") % 7 === 0,
          lit("Content-Length: garbled" + crlf))
          .otherwise(concat(lit("Content-Length: "), col("n_chars"),
            lit(crlf))),
        lit("Content-Type: text/plain" + crlf),
        when(col("doc_id") % 13 === 0, lit(""))
          .otherwise(concat(lit(crlf), col("text"))))
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.sources.WarcIngest.parseRecord(rec).as("w"))
        .select(col("doc_id"), col("w.warc_type").as("warc_type"),
          col("w.target_uri").as("target_uri"),
          col("w.content_type").as("content_type"),
          col("w.content_length").as("content_length"),
          col("w.payload_len").as("payload_len"))
        .orderBy("doc_id")
    }), Sql(
      """WITH r AS (
        |  SELECT doc_id,
        |    e'WARC/1.0\r\nWARC-Type: response\r\n'
        |    || 'WARC-Target-URI: http://' || lower(source)
        |    || '.example.com/p/' || doc_id || e'\r\n'
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN e'Content-Length: garbled\r\n'
        |         ELSE 'Content-Length: ' || n_chars || e'\r\n' END
        |    || e'Content-Type: text/plain\r\n'
        |    || CASE WHEN doc_id % 13 = 0 THEN ''
        |         ELSE e'\r\n' || text END AS rec
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, rec, strpos(rec, e'\r\n\r\n') AS sep FROM r),
        |x AS (
        |  SELECT doc_id,
        |    nullif(regexp_extract(rec,
        |      '(?m)^WARC-Type: ([^\r\n]+)', 1), '') AS warc_type,
        |    nullif(regexp_extract(rec,
        |      '(?m)^WARC-Target-URI: ([^\r\n]+)', 1), '') AS target_uri,
        |    nullif(regexp_extract(rec,
        |      '(?m)^Content-Type: ([^\r\n]+)', 1), '') AS content_type,
        |    try_cast(nullif(regexp_extract(rec,
        |      '(?m)^Content-Length: ([^\r\n]+)', 1), '') AS BIGINT)
        |      AS content_length,
        |    CASE WHEN sep > 0 THEN substring(rec, sep + 4) END AS payload
        |  FROM p)
        |SELECT doc_id, warc_type, target_uri, content_type,
        |  content_length,
        |  CAST(coalesce(length(payload), 0) AS BIGINT) AS payload_len
        |FROM x ORDER BY doc_id""".stripMargin)),

    // robots.txt parsing (RFC 9309 grammar): comments, blank lines,
    // multi-group files, empty directives dropped, governing agent by
    // forward fill — the fetch-side producer of robotsVerdict's rules
    QuerySpec("q_robots_parse", ((s, d) => {
      val bodies = t(s, d, "documents").select(col("source")).distinct()
        .select(col("source"), concat(
          lit("# synthetic robots\nUser-agent: *\n" +
            "Disallow: /private  # keep out\nAllow: /private/"),
          lower(col("source")),
          lit("\nCrawl-delay: 5\nDisallow:\n\n" +
            "User-agent: badbot\nDisallow: /\n")).as("body"))
      graft.operators.WebFilter.parseRobots(bodies, "source", "body")
        .orderBy("source", "line_no")
    }), Sql(
      """WITH b AS (
        |  SELECT DISTINCT source,
        |    e'# synthetic robots\nUser-agent: *\n'
        |    || e'Disallow: /private  # keep out\nAllow: /private/'
        |    || lower(source)
        |    || e'\nCrawl-delay: 5\nDisallow:\n\n'
        |    || e'User-agent: badbot\nDisallow: /\n' AS body
        |  FROM documents),
        |l AS (
        |  SELECT source, generate_subscripts(ls, 1) - 1 AS pos,
        |         trim(regexp_replace(unnest(ls), '#.*', '')) AS l
        |  FROM (SELECT source, string_split(body, e'\n') AS ls FROM b)),
        |d AS (
        |  SELECT source, pos,
        |    lower(regexp_extract(l, '^([A-Za-z-]+):', 1)) AS dn,
        |    trim(regexp_extract(l, '^[A-Za-z-]+:(.*)$', 1)) AS dv
        |  FROM l),
        |f AS (
        |  SELECT source, pos, dn, dv,
        |    last_value(CASE WHEN dn = 'user-agent' THEN dv END
        |      IGNORE NULLS) OVER (PARTITION BY source ORDER BY pos
        |        ROWS UNBOUNDED PRECEDING) AS user_agent
        |  FROM d)
        |SELECT source, CAST(pos AS BIGINT) AS line_no, user_agent,
        |       dn = 'allow' AS allow, dv AS prefix
        |FROM f
        |WHERE dn IN ('allow', 'disallow') AND dv <> ''
        |  AND user_agent IS NOT NULL
        |ORDER BY source, line_no""".stripMargin)),

    // conversational (SFT) data QC: role structure, shape stats,
    // preference-pair length bias. Turns synthesized from documents by
    // pure id arithmetic (conv = doc_id div 4, idx = doc_id mod 4,
    // alternating roles) with violations planted at prime moduli:
    // %97 forces 'assistant' (first-turn + alternation breaks), %101
    // forces 'system' (mid-conversation system), %103 an unknown role,
    // %89 blanks the content — every rule class fires at sf0.001.
    QuerySpec("q_chat_roles", ((s, d) =>
      ChatQC.violations(chatTurns(s, d), "conv_id", "turn_idx",
          "role", "content")
        .orderBy("conv_id", "turn_idx", "rule_id")), Sql(
      s"""WITH $chatTurnsCte,
        |w AS (
        |  SELECT conv_id, turn_idx, role,
        |    (content IS NULL OR trim(content) = '') AS blank,
        |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
        |      AS prev_role,
        |    min(turn_idx) OVER (PARTITION BY conv_id) AS lo,
        |    max(turn_idx) OVER (PARTITION BY conv_id) AS hi
        |  FROM turns),
        |v AS (
        |  SELECT conv_id, turn_idx, 'R_FIRST_NOT_USER' AS rule_id, role
        |    FROM w WHERE turn_idx = lo AND role <> 'user'
        |    AND role <> 'system'
        |  UNION ALL
        |  SELECT conv_id, turn_idx, 'R_SYSTEM_NOT_FIRST', role FROM w
        |    WHERE role = 'system' AND turn_idx <> lo
        |  UNION ALL
        |  SELECT conv_id, turn_idx, 'R_BROKEN_ALTERNATION', role FROM w
        |    WHERE prev_role IS NOT NULL AND role = prev_role
        |  UNION ALL
        |  SELECT conv_id, turn_idx, 'R_LAST_NOT_ASSISTANT', role FROM w
        |    WHERE turn_idx = hi AND role <> 'assistant'
        |  UNION ALL
        |  SELECT conv_id, turn_idx, 'R_EMPTY_TURN', role FROM w
        |    WHERE blank
        |  UNION ALL
        |  SELECT conv_id, turn_idx, 'R_BAD_ROLE', role FROM w
        |    WHERE role NOT IN ('system', 'user', 'assistant'))
        |SELECT conv_id, turn_idx, rule_id, role AS offending_value
        |FROM v ORDER BY conv_id, turn_idx, rule_id""".stripMargin)),

    QuerySpec("q_chat_stats", ((s, d) =>
      ChatQC.conversationStats(chatTurns(s, d), "conv_id", "turn_idx",
          "role", "content")
        .orderBy("conv_id")), Sql(
      s"""WITH $chatTurnsCte
        |SELECT conv_id,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_user,
        |  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_assistant,
        |  CAST(sum(CASE WHEN role = 'system' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_system,
        |  CAST(sum(CASE WHEN role = 'user'
        |    THEN coalesce(length(content), 0) ELSE 0 END) AS BIGINT)
        |    AS user_chars,
        |  CAST(sum(CASE WHEN role = 'assistant'
        |    THEN coalesce(length(content), 0) ELSE 0 END) AS BIGINT)
        |    AS assistant_chars,
        |  CAST(sum(coalesce(length(content), 0)) AS BIGINT)
        |    AS total_chars,
        |  CAST(max(coalesce(length(content), 0)) AS BIGINT)
        |    AS max_turn_chars,
        |  CASE WHEN sum(coalesce(length(content), 0)) > 0 THEN
        |    CAST(sum(CASE WHEN role = 'assistant'
        |      THEN coalesce(length(content), 0) ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(coalesce(length(content), 0)) AS DOUBLE)
        |  END AS assistant_char_share
        |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin)),

    // RLHF preference pairs from even/odd document pairing; every 50th
    // pair planted byte-identical (the labeling-bug case)
    QuerySpec("q_pref_bias", ((s, d) =>
      ChatQC.preferenceBias(prefPairs(s, d), "chosen", "rejected")), Sql(
      """WITH c AS (
        |  SELECT doc_id // 2 AS pair_id, text AS chosen
        |  FROM documents WHERE doc_id % 2 = 0),
        |r AS (
        |  SELECT doc_id // 2 AS pair_id, text AS rejected
        |  FROM documents WHERE doc_id % 2 = 1),
        |p AS (
        |  SELECT c.pair_id, chosen,
        |    CASE WHEN c.pair_id % 50 = 0 THEN chosen ELSE rejected END
        |      AS rejected
        |  FROM c JOIN r USING (pair_id)),
        |s AS (
        |  SELECT coalesce(length(chosen), 0) AS lc,
        |         coalesce(length(rejected), 0) AS lr,
        |         (chosen IS NOT DISTINCT FROM rejected) AS same
        |  FROM p)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN same THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_identical,
        |  CAST(sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_chosen_longer,
        |  CAST(sum(CASE WHEN lc < lr THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rejected_longer,
        |  CAST(sum(CASE WHEN lc = lr THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_len_ties,
        |  CAST(sum(lc - lr) AS BIGINT) AS len_delta_sum,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST(sum(lc - lr) AS DOUBLE) / count(*) END AS mean_len_delta,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST(sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) END AS frac_chosen_longer
        |FROM s""".stripMargin)),

    // rendezvous resharding bill: growing 8 → 10 shards moves
    // ~2/10 of keys (argmax changes only when a NEW shard wins) vs
    // ~90% for modulo sharding — the difference between topping up an
    // output layout and rewriting it. Oracle replays the argmax with
    // a window rank over the same mul-xorshift-mul draw.
    QuerySpec("q_rendezvous", ((s, d) =>
      Packing.rendezvousMoved(t(s, d, "documents"), "doc_id",
        fromShards = 8, toShards = 10, seed = 17L)), Sql(
      """WITH d AS (SELECT doc_id AS k FROM documents),
        |h AS (SELECT k, s,
        |        CAST((CAST(xor(h1, h1 >> 16) AS HUGEINT) * 2246822519)
        |             % 4294967296 AS BIGINT) AS h
        |      FROM (SELECT k, s,
        |              ((k + s * 1000003 + 17) * 2654435761)
        |                % 4294967296 AS h1
        |            FROM d, range(10) t(s))),
        |a8 AS (SELECT k, s FROM (
        |         SELECT k, s, row_number() OVER (PARTITION BY k
        |           ORDER BY h DESC, s DESC) AS rn
        |         FROM h WHERE s < 8) WHERE rn = 1),
        |a10 AS (SELECT k, s FROM (
        |         SELECT k, s, row_number() OVER (PARTITION BY k
        |           ORDER BY h DESC, s DESC) AS rn
        |         FROM h) WHERE rn = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN a8.s <> a10.s THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_moved,
        |       round(CAST(sum(CASE WHEN a8.s <> a10.s THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS moved_frac
        |FROM a8 JOIN a10 USING (k)""".stripMargin)),

    // water-filling budget allocation: deterministic skewed
    // groups (50/30/15/5 %), budget = 60 % of rows → the level binds
    // on the two big groups while small groups keep everything; the
    // oracle replays the sorted level search + remainder rule in SQL
    // sorted water-level search: first group (ascending size) whose
    // equal share of the remaining budget undercuts it fixes the
    // level; leftover units go one each to the first unsaturated
    // groups in the same (size, name) order — the exact rule in
    // Mixing.waterfill
    QuerySpec("q_waterfill", ((s, d) => {
      val docs = t(s, d, "documents")
      val grouped = docs.withColumn("grp",
        when(col("doc_id") % 20 < 10, "g_half")
          .when(col("doc_id") % 20 < 16, "g_third")
          .when(col("doc_id") % 20 < 19, "g_sixth")
          .otherwise("g_tiny"))
      Mixing.waterfillAllocation(grouped, "grp",
          budget = docs.count() * 3 / 5)
        .orderBy("grp")
    }), Sql(
      """WITH c AS (
        |  SELECT CASE WHEN doc_id % 20 < 10 THEN 'g_half'
        |              WHEN doc_id % 20 < 16 THEN 'g_third'
        |              WHEN doc_id % 20 < 19 THEN 'g_sixth'
        |              ELSE 'g_tiny' END AS grp,
        |         count(*) AS n_rows
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) * 3 // 5 AS BIGINT) AS budget FROM c),
        |o AS (
        |  SELECT grp, n_rows,
        |         CAST(row_number() OVER w AS BIGINT) AS j,
        |         CAST(coalesce(sum(n_rows) OVER (ORDER BY n_rows, grp
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before,
        |         CAST(count(*) OVER () AS BIGINT) AS k
        |  FROM c WINDOW w AS (ORDER BY n_rows, grp)),
        |lev AS (
        |  SELECT (budget - cum_before) // (k - j + 1) AS level
        |  FROM o, t WHERE (budget - cum_before) // (k - j + 1) < n_rows
        |  ORDER BY j LIMIT 1),
        |lv AS (SELECT coalesce((SELECT level FROM lev),
        |                       (SELECT max(n_rows) FROM c)) AS level),
        |b AS (
        |  SELECT grp, n_rows, least(n_rows, level) AS base,
        |         CASE WHEN n_rows > level THEN
        |           sum(CASE WHEN n_rows > level THEN 1 ELSE 0 END)
        |             OVER (ORDER BY n_rows, grp ROWS UNBOUNDED PRECEDING)
        |         ELSE 0 END AS ur
        |  FROM o, lv),
        |l AS (SELECT budget - sum(base) AS leftover FROM b, t GROUP BY budget)
        |SELECT grp, n_rows,
        |       CAST(base + CASE WHEN ur > 0 AND ur <= leftover
        |                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM b, l ORDER BY grp""".stripMargin)),

    // raking / IPF: balance the corpus to uniform lang AND group
    // marginals simultaneously — 3 fixed row/col scaling rounds on the
    // proportion table, driver arithmetic on one count aggregate; the
    // oracle replays every scaling as a window-sum CTE
    // each scaling = w · (target / marginal-sum), replayed as a
    // window-sum per axis; same op order as Mixing.rake, round-6
    // absorbs sum-order ulps
    QuerySpec("q_raking", ((s, d) =>
      Mixing.rakeWeights(
          t(s, d, "documents").withColumn("grp",
            concat(lit("g"), (col("doc_id") % 3).cast("string"))),
          "lang", "grp", iters = 3)
        .orderBy("lang", "grp")), Sql(
      """WITH c AS (
        |  SELECT lang, 'g' || CAST(doc_id % 3 AS VARCHAR) AS grp,
        |         count(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot,
        |             1.0 / count(DISTINCT lang) AS rt,
        |             1.0 / count(DISTINCT grp) AS ct FROM c),
        |w0 AS (SELECT lang, grp, n, n / tot AS w, rt, ct FROM c, t),
        |r1 AS (SELECT lang, grp, n, rt, ct,
        |              w * (rt / sum(w) OVER (PARTITION BY lang)) AS w FROM w0),
        |c1 AS (SELECT lang, grp, n, rt, ct,
        |              w * (ct / sum(w) OVER (PARTITION BY grp)) AS w FROM r1),
        |r2 AS (SELECT lang, grp, n, rt, ct,
        |              w * (rt / sum(w) OVER (PARTITION BY lang)) AS w FROM c1),
        |c2 AS (SELECT lang, grp, n, rt, ct,
        |              w * (ct / sum(w) OVER (PARTITION BY grp)) AS w FROM r2),
        |r3 AS (SELECT lang, grp, n, rt, ct,
        |              w * (rt / sum(w) OVER (PARTITION BY lang)) AS w FROM c2),
        |c3 AS (SELECT lang, grp, n, rt, ct,
        |              w * (ct / sum(w) OVER (PARTITION BY grp)) AS w FROM r3)
        |SELECT lang, grp, n AS n_rows, round(w, 6) AS weight
        |FROM c3 ORDER BY lang, grp""".stripMargin)),

    // stride-scheduled weighted interleave: the smoothest
    // w-proportional ORDER (membership is sampleByWeights' job) —
    // virtual time k/w per source, head-60 shown; identical doubles
    // both engines, ties broken (grp, id)
    QuerySpec("q_interleave", ((s, d) =>
      Mixing.interleavePositions(
          t(s, d, "documents").withColumn("grp",
            concat(lit("g"), (col("doc_id") % 3).cast("string"))),
          "doc_id", "grp", Map("g0" -> 0.5, "g1" -> 0.3, "g2" -> 0.2))
        .orderBy(col("vt"), col("grp"), col("doc_id"))
        .limit(60)
        .select(col("doc_id"), col("grp"), col("__k").as("k"),
          round(col("vt"), 6).as("vt"))), Sql(
      """WITH g AS (
        |  SELECT doc_id, 'g' || CAST(doc_id % 3 AS VARCHAR) AS grp
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, grp,
        |         CAST(row_number() OVER (PARTITION BY grp ORDER BY doc_id)
        |              AS BIGINT) AS k
        |  FROM g),
        |v AS (
        |  SELECT doc_id, grp, k,
        |         CAST(k AS DOUBLE) /
        |           (CASE grp WHEN 'g0' THEN 0.5 WHEN 'g1' THEN 0.3
        |                     ELSE 0.2 END) AS vt
        |  FROM k)
        |SELECT doc_id, grp, k, round(vt, 6) AS vt FROM v
        |ORDER BY v.vt, grp, doc_id LIMIT 60""".stripMargin)),

    // site-section rollup: page volume by 2-segment path prefix;
    // the n_pages/n_paths gap (p{id%50} pagination dupes planted) is
    // the duplicated-pagination smell
    QuerySpec("q_path_rollup", ((s, d) => {
      val id = col("doc_id").cast("long")
      val url = concat(lit("https://ex.com/sec"), (id % 5).cast("string"),
        lit("/sub"), (id % 17).cast("string"),
        lit("/p"), (id % 50).cast("string"), lit(".html"),
        when(id % 3 === 0, lit("?page=2")).otherwise(lit("")))
      WebFilter.pathPrefixRollup(
        t(s, d, "documents").select(url.as("url")), "url", depth = 2)
    }), Sql(
      """WITH u AS (
        |  SELECT 'https://ex.com/sec' || CAST(doc_id % 5 AS VARCHAR) ||
        |         '/sub' || CAST(doc_id % 17 AS VARCHAR) ||
        |         '/p' || CAST(doc_id % 50 AS VARCHAR) || '.html' ||
        |         CASE WHEN doc_id % 3 = 0 THEN '?page=2' ELSE '' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT coalesce(nullif(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), ''), '/')
        |    AS path
        |  FROM u),
        |s AS (SELECT path,
        |             list_filter(string_split(path, '/'), x -> x <> '')
        |               AS segs
        |      FROM p)
        |SELECT '/' || array_to_string(segs[1:2], '/') AS prefix,
        |       count(*) AS n_pages,
        |       CAST(count(DISTINCT path) AS BIGINT) AS n_paths
        |FROM s GROUP BY 1 ORDER BY n_pages DESC, prefix""".stripMargin)),

    // stage conservation audit: length-tier split of documents
    // must reassemble exactly (counts + char mass + xor id digest;
    // every residual 0) — the invariant funnel counts can't prove
    // conservation: identical multiplicative id digest (doc_id ≥ 0 so
    // % == pmod), identical length-tier split; residual deltas all 0
    QuerySpec("q_conservation", ((s, d) => {
      val docs = t(s, d, "documents")
      Funnel.conservation(docs, Seq(
          "long" -> docs.where(col("n_chars") >= 500),
          "mid" -> docs.where(col("n_chars") >= 200 && col("n_chars") < 500),
          "short" -> docs.where(col("n_chars") < 200)),
        "doc_id", Some("n_chars")).orderBy(col("stage"))
    }), Sql(
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |         (doc_id % 1000000007) * 2654435761 % 1000000007 AS hh,
        |         CASE WHEN n_chars >= 500 THEN 'long'
        |              WHEN n_chars >= 200 THEN 'mid'
        |              ELSE 'short' END AS part
        |  FROM documents),
        |s AS (
        |  SELECT 'input' AS stage, count(*) AS n_rows,
        |         CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS mass,
        |         coalesce(bit_xor(hh), 0) AS digest FROM h
        |  UNION ALL
        |  SELECT 'long', count(*),
        |         CAST(coalesce(sum(n_chars), 0) AS BIGINT),
        |         coalesce(bit_xor(hh), 0) FROM h WHERE part = 'long'
        |  UNION ALL
        |  SELECT 'mid', count(*),
        |         CAST(coalesce(sum(n_chars), 0) AS BIGINT),
        |         coalesce(bit_xor(hh), 0) FROM h WHERE part = 'mid'
        |  UNION ALL
        |  SELECT 'short', count(*),
        |         CAST(coalesce(sum(n_chars), 0) AS BIGINT),
        |         coalesce(bit_xor(hh), 0) FROM h WHERE part = 'short'),
        |r AS (
        |  SELECT '~residual' AS stage,
        |    CAST((SELECT n_rows FROM s WHERE stage = 'input')
        |      - (SELECT sum(n_rows) FROM s WHERE stage <> 'input')
        |      AS BIGINT) AS n_rows,
        |    CAST((SELECT mass FROM s WHERE stage = 'input')
        |      - (SELECT sum(mass) FROM s WHERE stage <> 'input')
        |      AS BIGINT) AS mass,
        |    (SELECT bit_xor(digest) FROM s) AS digest)
        |SELECT stage, n_rows, mass, digest
        |FROM (SELECT * FROM s UNION ALL SELECT * FROM r)
        |ORDER BY stage""".stripMargin)),

    // cross-doc attention waste of the packed windows: per window
    // the fraction of attention pairs crossing a doc boundary — the
    // bill of packing without attention masking; placement-only, token
    // arrays never load
    // attention waste: the q_concat_pack placement CTE extended with
    // per-window segment sums — all integers until the final ratio
    QuerySpec("q_attention_waste", ((s, d) =>
      Packing.attentionWaste(
        decontamCorpus(s, d).select(col("doc_id"), col("n_tok")),
        "doc_id", "n_tok", windowLen = 512L)), Sql(
      s"""WITH $SeqTableCte,
        |corpus AS (SELECT did, n_tok FROM s2
        |           WHERE starts_with(did, 'doc_')),
        |o AS (SELECT did, n_tok,
        |        CAST(coalesce(sum(n_tok) OVER (ORDER BY did
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS off
        |      FROM corpus),
        |w AS (SELECT off, n_tok,
        |        unnest(range(off // 512, (off + n_tok - 1) // 512 + 1))
        |          AS window_id
        |      FROM o WHERE n_tok > 0),
        |seg AS (SELECT CAST(window_id AS BIGINT) AS window_id,
        |          least(off + n_tok, (window_id + 1) * 512)
        |            - greatest(off, window_id * 512) AS l
        |        FROM w),
        |a AS (SELECT window_id, CAST(sum(l) AS BIGINT) AS n_tokens,
        |             CAST(count(*) AS BIGINT) AS n_segments,
        |             CAST(sum(l * l) AS BIGINT) AS sumsq
        |      FROM seg WHERE l > 0 GROUP BY 1)
        |SELECT window_id, n_tokens, n_segments,
        |  (n_tokens * n_tokens - sumsq) // 2 AS n_cross_pairs,
        |  (n_tokens * (n_tokens - 1)) // 2 AS n_pairs,
        |  CASE WHEN n_tokens > 1
        |       THEN round(CAST((n_tokens * n_tokens - sumsq) // 2
        |                       AS DOUBLE)
        |                  / CAST((n_tokens * (n_tokens - 1)) // 2
        |                         AS DOUBLE), 6)
        |       ELSE NULL END AS waste
        |FROM a ORDER BY window_id""".stripMargin)),

    // crawl-trap detection: a planted trap host (7 paths, 125
    // pages, all under /calendar) against healthy source hosts
    // crawl traps: identical URL construction, host/path/prefix
    // regex family, and the two trap signals
    QuerySpec("q_crawl_traps", ((s, d) => {
      val id = col("doc_id").cast("long")
      val url = when(id % 4 === 0,
          concat(lit("https://trap.example.com/calendar/p"),
            (id % 7).cast("string"), lit("?page="), id.cast("string")))
        .otherwise(concat(lit("https://"), col("source"),
          lit(".example.com/sec"), (id % 5).cast("string"),
          lit("/art"), id.cast("string")))
      WebFilter.crawlTraps(
        t(s, d, "documents").select(url.as("url")), "url",
        depth = 1, minPages = 50L)
    }), Sql(
      """WITH u AS (
        |  SELECT CASE WHEN doc_id % 4 = 0
        |    THEN 'https://trap.example.com/calendar/p'
        |         || CAST(doc_id % 7 AS VARCHAR) || '?page='
        |         || CAST(doc_id AS VARCHAR)
        |    ELSE 'https://' || source || '.example.com/sec'
        |         || CAST(doc_id % 5 AS VARCHAR) || '/art'
        |         || CAST(doc_id AS VARCHAR) END AS url
        |  FROM documents),
        |p AS (
        |  SELECT coalesce(nullif(regexp_replace(regexp_replace(
        |      regexp_extract(url,
        |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
        |      '^[^@]*@', ''), ':[0-9]*$', ''), ''), '<null>') AS host,
        |    coalesce(nullif(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), ''),
        |      '/') AS path
        |  FROM u),
        |seg AS (
        |  SELECT host, path,
        |    '/' || array_to_string(
        |      list_filter(string_split(path, '/'), x -> x <> '')[1:1],
        |      '/') AS prefix
        |  FROM p),
        |tot AS (SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
        |               CAST(count(DISTINCT path) AS BIGINT) AS n_paths
        |        FROM seg GROUP BY host),
        |tp AS (SELECT host, CAST(max(c) AS BIGINT) AS top FROM (
        |         SELECT host, prefix, count(*) AS c
        |         FROM seg GROUP BY host, prefix) GROUP BY host)
        |SELECT tot.host, tot.n_pages, tot.n_paths,
        |  round(1.0 - CAST(tot.n_paths AS DOUBLE)
        |              / CAST(tot.n_pages AS DOUBLE), 6)
        |    AS path_dup_ratio,
        |  round(CAST(tp.top AS DOUBLE) / CAST(tot.n_pages AS DOUBLE), 6)
        |    AS top_prefix_share,
        |  (tot.n_pages >= 50 AND
        |   (round(1.0 - CAST(tot.n_paths AS DOUBLE)
        |                / CAST(tot.n_pages AS DOUBLE), 6) > 0.5
        |    OR round(CAST(tp.top AS DOUBLE)
        |             / CAST(tot.n_pages AS DOUBLE), 6) > 0.5)) AS trap
        |FROM tot JOIN tp USING (host) ORDER BY host""".stripMargin)),

    // magic-byte sniff vs declared MIME: planted lying headers
    // (JPEG declared as PNG, garbage declared as PNG); pure projection
    // magic sniff: identical hex prefixes (both engines uppercase),
    // identical lying declared types
    QuerySpec("q_magic_sniff", ((s, d) => {
      val id = col("doc_id").cast("long")
      val hx = when(id % 5 === 0, lit("89504E470D0A1A0A0000"))
        .when(id % 5 === 1, lit("FFD8FFE000104A464946"))
        .when(id % 5 === 2, lit("524946460800000057415645"))
        .when(id % 5 === 3, lit("504B030414000000"))
        .otherwise(lit("DEADBEEF00"))
      val declared = when(id % 5 === 0, lit("image/png"))
        .when(id % 5 === 1, lit("image/png")) // lying header
        .when(id % 5 === 2, lit("audio/wav"))
        .when(id % 5 === 3, lit(null).cast("string")) // undeclared
        .otherwise(lit("image/png")) // lying about garbage
      Multimodal.magicSniff(
        t(s, d, "documents").select(col("doc_id"), unhex(hx).as("bin"),
          declared.as("mime")),
        "doc_id", "bin", "mime").orderBy("doc_id")
    }), Sql(
      """WITH x AS (
        |  SELECT doc_id,
        |    unhex(CASE WHEN doc_id % 5 = 0 THEN '89504E470D0A1A0A0000'
        |               WHEN doc_id % 5 = 1 THEN 'FFD8FFE000104A464946'
        |               WHEN doc_id % 5 = 2
        |                 THEN '524946460800000057415645'
        |               WHEN doc_id % 5 = 3 THEN '504B030414000000'
        |               ELSE 'DEADBEEF00' END) AS bin,
        |    CASE WHEN doc_id % 5 = 0 THEN 'image/png'
        |         WHEN doc_id % 5 = 1 THEN 'image/png'
        |         WHEN doc_id % 5 = 2 THEN 'audio/wav'
        |         WHEN doc_id % 5 = 3 THEN NULL
        |         ELSE 'image/png' END AS declared
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, declared, hex(bin) AS hx FROM x),
        |v AS (
        |  SELECT doc_id, declared,
        |    CASE WHEN hx IS NULL THEN NULL
        |         WHEN substr(hx, 1, 8) = '89504E47' THEN 'image/png'
        |         WHEN substr(hx, 1, 6) = 'FFD8FF' THEN 'image/jpeg'
        |         WHEN substr(hx, 1, 8) = '47494638' THEN 'image/gif'
        |         WHEN substr(hx, 1, 8) = '52494646'
        |              AND substr(hx, 17, 8) = '57415645'
        |           THEN 'audio/wav'
        |         WHEN substr(hx, 1, 8) = '52494646'
        |              AND substr(hx, 17, 8) = '41564920'
        |           THEN 'video/avi'
        |         WHEN substr(hx, 1, 8) = '52494646' THEN 'riff/unknown'
        |         WHEN substr(hx, 1, 8) = '25504446'
        |           THEN 'application/pdf'
        |         WHEN substr(hx, 1, 8) = '504B0304'
        |           THEN 'application/zip'
        |         ELSE 'unknown' END AS sniffed
        |  FROM s)
        |SELECT doc_id, declared, sniffed,
        |  CASE WHEN declared IS NOT NULL THEN declared <> sniffed
        |  END AS mismatch
        |FROM v ORDER BY doc_id""".stripMargin)),

    // Neyman-optimal audit-budget allocation across sources:
    // n_h ∝ N_h·σ_h from exact decimal moments, largest-remainder
    // integers summing exactly to the budget, caps surfaced
    // Neyman allocation: exact HUGEINT moments, the same fixed sigma /
    // weight order, ordered-cumsum ΣW, identical largest-remainder
    // ranking (remainder desc, stratum asc)
    QuerySpec("q_neyman_alloc", ((s, d) =>
      Mixing.neymanAllocation(t(s, d, "documents"), "source", "n_chars",
        budget = 100L)), Sql(
      """WITH a AS (
        |  SELECT coalesce(CAST(source AS VARCHAR), '<null>') AS stratum,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(n_chars AS HUGEINT)) AS sx,
        |    sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
        |      AS sxx
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT stratum, n,
        |    CASE WHEN n > 0 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |         THEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |              / CAST(n AS DOUBLE)
        |         ELSE 0.0 END AS sigma
        |  FROM a),
        |w AS (SELECT *, CAST(n AS DOUBLE) * sigma AS wt FROM s),
        |tw AS (
        |  SELECT max(cw) AS tot FROM (
        |    SELECT sum(wt) OVER (ORDER BY stratum
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        |    FROM w)),
        |r AS (
        |  SELECT w.*, CASE WHEN tw.tot > 0
        |                   THEN 100.0 * wt / tw.tot ELSE 0.0 END AS raw
        |  FROM w, tw),
        |b AS (SELECT *, CAST(floor(raw) AS BIGINT) AS base,
        |             raw - floor(raw) AS rem FROM r),
        |lo AS (SELECT CASE WHEN (SELECT tot FROM tw) > 0
        |                   THEN 100 - sum(base) ELSE 0 END AS l FROM b),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum)
        |              AS rn FROM b)
        |SELECT stratum, n AS n_rows, round(sigma, 6) AS sigma,
        |  round(wt, 6) AS weight,
        |  least(base + CASE WHEN rn <= lo.l THEN 1 ELSE 0 END, n)
        |    AS alloc,
        |  (base + CASE WHEN rn <= lo.l THEN 1 ELSE 0 END) > n AS capped
        |FROM rk, lo ORDER BY stratum""".stripMargin)),

    // JSON key discovery over a semi-structured column (planted
    // extra/utm/ts keys + malformed rows): which keys exist and how
    // often, before declaring an extraction schema
    // JSON key discovery: identical planted keys; malformed rows are
    // NULL in both engines and vanish at the explode/unnest
    QuerySpec("q_json_keys", ((s, d) => {
      val id = col("doc_id").cast("long")
      val js = when(id % 13 === 0, lit("{bad"))
        .when(id % 3 === 0, concat(lit("{\"k\":"), (id % 100).cast("string"),
          lit(",\"extra\":1}")))
        .when(id % 5 === 0, concat(lit("{\"k\":"), (id % 100).cast("string"),
          lit(",\"utm\":\"x\",\"ts\":0}")))
        .otherwise(concat(lit("{\"k\":"), (id % 100).cast("string"),
          lit("}")))
      JsonIngest.topJsonKeys(
        t(s, d, "documents").select(js.as("props")), "props", k = 10)
    }), Sql(
      """WITH x AS (
        |  SELECT CASE
        |    WHEN doc_id % 13 = 0 THEN '{bad'
        |    WHEN doc_id % 3 = 0
        |      THEN '{"k":' || CAST(doc_id % 100 AS VARCHAR)
        |           || ',"extra":1}'
        |    WHEN doc_id % 5 = 0
        |      THEN '{"k":' || CAST(doc_id % 100 AS VARCHAR)
        |           || ',"utm":"x","ts":0}'
        |    ELSE '{"k":' || CAST(doc_id % 100 AS VARCHAR) || '}'
        |  END AS props
        |  FROM documents),
        |keys AS (
        |  SELECT unnest(CASE WHEN json_valid(props)
        |                     THEN json_keys(props) END) AS key
        |  FROM x)
        |SELECT key, CAST(count(*) AS BIGINT) AS n
        |FROM keys GROUP BY key
        |ORDER BY n DESC, key LIMIT 10""".stripMargin)),

    // per-shard content manifest: order-independent md5-prefix
    // XOR digest + row/char counts — the copy-integrity record
    // shard manifest: identical 60-bit md5-prefix XOR digest — hex
    // casts agree ('0x…'::BIGINT here, conv(…,16,10) there)
    QuerySpec("q_shard_manifest", ((s, d) =>
      Packing.shardManifest(
        t(s, d, "documents").select((col("doc_id") % 8).as("shard_id"),
          col("text")),
        "shard_id", "text")), Sql(
      """SELECT doc_id % 8 AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS char_mass,
        |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
        |    AS digest
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
