package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._

/** Exact, near- and fuzzy-duplicate detection and their planted-recall
  * checks (`Dedup`, `LineDedup`, `EditDistance`, `Winnowing`, ...). */
object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(

    // normalization gain for exact dedup: planted disguised copies
    // (upper-case + trailing whitespace on %13 keys) invisible to raw
    // hashing, caught after lower+trim+ws-collapse — "does the exact
    // tier need to normalize before hashing" as one number
    QuerySpec("q_norm_dups", ((s, d) => {
      val docs = t(s, d, "documents")
      val variants = docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(upper(col("text")), lit("  ")).as("text"))
      Dedup.normalizationGain(
        docs.select("doc_id", "text").unionByName(variants),
        "doc_id", "text")
    }), Sql(
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, upper(text) || '  ' FROM documents
        |  WHERE doc_id % 13 = 0),
        |raw AS (SELECT coalesce(sum(n), 0) AS d FROM (
        |  SELECT count(*) AS n FROM aug WHERE text IS NOT NULL
        |  GROUP BY text HAVING count(*) > 1)),
        |nrm AS (SELECT coalesce(sum(n), 0) AS d FROM (
        |  SELECT count(*) AS n FROM aug WHERE text IS NOT NULL
        |  GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |  HAVING count(*) > 1)),
        |nn AS (SELECT count(*) AS n FROM aug WHERE text IS NOT NULL)
        |SELECT nn.n AS n_rows, CAST(raw.d AS BIGINT) AS raw_dup_rows,
        |  CAST(nrm.d AS BIGINT) AS norm_dup_rows,
        |  CAST(nrm.d - raw.d AS BIGINT) AS gain_rows
        |FROM nn, raw, nrm""".stripMargin)),

    // leakage-safe split: assignment hashes the CONTENT GROUP (md5 of
    // text), so planted exact-dup families (%5 docs collapsed onto 7
    // shared texts) can never span train/val/test — audited by the
    // splitLeakage pass inside the same query: n_leaked_docs must be 0
    // BY ARITHMETIC in both engines, not by luck
    QuerySpec("q_group_split", ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
            concat(lit("duplicated page "),
              (col("doc_id") % 7).cast("string")))
          .otherwise(col("text")).as("text"))
      Dedup.splitLeakage(
          Mixing.groupAwareSplit(docs, "text"), "text", "split")
        .orderBy("split")
    }), Sql(
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |         THEN 'duplicated page ' || CAST(doc_id % 7 AS VARCHAR)
        |         ELSE text END AS text
        |  FROM documents),
        |lab AS (
        |  SELECT md5(coalesce(text, '<null>')) AS h,
        |    CASE WHEN CAST(('0x' || substr(md5(coalesce(text, '<null>')),
        |                    1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(coalesce(text, '<null>')),
        |                    1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM docs WHERE text IS NOT NULL),
        |psh AS (SELECT split, h, count(*) AS n FROM lab GROUP BY 1, 2),
        |spn AS (SELECT h, count(*) AS ns FROM psh GROUP BY 1)
        |SELECT split, CAST(sum(n) AS BIGINT) AS n_docs,
        |  count(*) AS n_distinct_texts,
        |  CAST(sum(CASE WHEN ns > 1 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_leaked_docs,
        |  CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked_texts,
        |  round(sum(CASE WHEN ns > 1 THEN n ELSE 0 END)::DOUBLE
        |        / sum(n)::DOUBLE, 6) AS leak_rate
        |FROM psh JOIN spn USING (h)
        |GROUP BY split ORDER BY split""".stripMargin)),

    QuerySpec("q_shingle_count", ((s, d) => {
      graft.functions.ShingleExpression.register(s)
      t(s, d, "documents")
        .select(explode(Dedup.shingles(col("text"), 3)).as("s"))
        .agg(countDistinct(col("s")).as("n_distinct_shingles"))
    }), Sql(
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents)
        |SELECT count(DISTINCT s) AS n_distinct_shingles FROM (
        |  SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM t, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
        |  WHERE len(ws) >= 3
        |  UNION ALL
        |  SELECT array_to_string(ws, ' ') AS s FROM t WHERE len(ws) < 3)""".stripMargin)),

    // WITHIN-doc repetition removal (word granularity on the synthetic
    // single-line corpus — same code path as the newline default):
    // first occurrence survives, later repeats drop, volume observable
    // within-doc first-occurrence dedup: min-subscript per (doc, unit),
    // rejoin in first-appearance order; n_dropped = total − distinct
    QuerySpec("q_intradoc_dedup", ((s, d) =>
      orderedOnce(
        LineDedup.dedupLinesWithinDoc(t(s, d, "documents")
          .select("doc_id", "text"), "text", delim = " "),
        "doc_id")), Sql(
      """WITH l AS (SELECT doc_id, string_split(text, ' ') AS ls
        |           FROM documents),
        |e AS (SELECT doc_id, unnest(ls) AS line,
        |             generate_subscripts(ls, 1) AS idx FROM l),
        |g AS (SELECT doc_id, line, min(idx) AS mi, count(*) AS c
        |      FROM e GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(sum(c) - count(*) AS BIGINT) AS n_dropped,
        |       string_agg(line, ' ' ORDER BY mi) AS text
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // CROSS-doc chunk dedup (Dolma/RefinedWeb paragraph scrub on a
    // punctuation-free corpus): every duplicated 12-word chunk keeps one
    // copy corpus-wide at its first (doc_id, pos); the oracle replays
    // the winner selection on chunk CONTENT (hash-equality == content-
    // equality absent 64-bit collisions, the TokenGramHashes argument)
    // cross-doc chunk dedup: winner per chunk CONTENT at min (doc_id,
    // pos); rebuild per doc in position order, '' when nothing survives
    QuerySpec("q_chunk_dedup", ((s, d) =>
      LineDedup.dedupChunksAcrossDocs(t(s, d, "documents")
          .select("doc_id", "text"), "doc_id", "text", chunkWords = 12)
        .orderBy("doc_id")), Sql(
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS pos,
        |         unnest(chunks) AS chunk
        |  FROM (SELECT doc_id,
        |          CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
        |          ELSE list_transform(range(0, (len(ws) - 1) // 12 + 1),
        |            i -> array_to_string(ws[(i*12+1):(i*12+12)], ' '))
        |          END AS chunks
        |        FROM w)),
        |win AS (
        |  SELECT doc_id, pos, chunk FROM c
        |  QUALIFY row_number() OVER (PARTITION BY chunk
        |                             ORDER BY doc_id, pos) = 1),
        |kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         array_to_string(list(chunk ORDER BY pos), ' ')
        |           AS text_deduped
        |  FROM win GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CAST(CASE WHEN len(w.ws) = 0 THEN 0
        |       ELSE (len(w.ws) - 1) // 12 + 1 END AS BIGINT) AS n_chunks,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(k.text_deduped, '') AS text_deduped
        |FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
        |ORDER BY w.doc_id""".stripMargin)),

    // exact-dup cluster-size histogram: the dedup planning number
    // (docs planted: every doc_id%10==0 text appears twice, %20==0
    // three times — the histogram must see sizes 1, 2 AND 3)
    // md5 matches across engines (the oracle-parity convention)
    QuerySpec("q_dup_hist", ((s, d) => {
      val docs = t(s, d, "documents")
      val planted = docs
        .unionByName(docs.where(col("doc_id") % 10 === 0))
        .unionByName(docs.where(col("doc_id") % 20 === 0))
      Dedup.duplicateClusterHistogram(planted, "text")
    }), Sql(
      """WITH planted AS (
        |  SELECT text FROM documents
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 20 = 0)
        |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS sz
        |      FROM planted GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // train/test contamination: exact copies planted ACROSS the split
    // boundary (mod-31 docs re-keyed +999983 → different mod-100 split
    // bucket), then the per-split leaked-document audit — the check a
    // release gate runs after splitting
    // split leakage: same planted cross-split copies, same md5 grouping
    // (NULL texts excluded on both sides), spanning count over the
    // already-distinct (split, hash) pairs
    QuerySpec("q_split_leakage", ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 999983L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(planted)
        .withColumn("split",
          when(col("doc_id") % 100 < 80, "train")
            .when(col("doc_id") % 100 < 90, "val")
            .otherwise("test"))
      Dedup.splitLeakage(corpus, "text", "split").orderBy("split")
    }), Sql(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 999983, text FROM documents
        |  WHERE doc_id % 31 = 0),
        |sp AS (
        |  SELECT CASE WHEN doc_id % 100 < 80 THEN 'train'
        |              WHEN doc_id % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split,
        |         md5(text) AS h
        |  FROM corpus WHERE text IS NOT NULL),
        |ph AS (SELECT split, h, count(*) AS n FROM sp GROUP BY 1, 2),
        |sn AS (SELECT h, count(*) AS ns FROM ph GROUP BY 1)
        |SELECT split, CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_distinct_texts,
        |       CAST(sum(CASE WHEN ns > 1 THEN n ELSE 0 END) AS BIGINT)
        |         AS n_leaked_docs,
        |       CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_leaked_texts,
        |       round(CAST(sum(CASE WHEN ns > 1 THEN n ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(n) AS DOUBLE), 6) AS leak_rate
        |FROM ph JOIN sn USING (h) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // crawl novelty trend: deterministic ingest day (doc_id % 30),
    // first-seen content fraction per day — the stuck-crawler detector
    // novelty curve: md5 first-day reduce over (day, hash) pairs,
    // NULL text excluded on both sides
    QuerySpec("q_novelty_curve", ((s, d) =>
      Dedup.noveltyCurve(
          t(s, d, "documents")
            .withColumn("day", (col("doc_id") % 30).cast("int")),
          "text", "day")
        .orderBy("day")), Sql(
      """WITH ph AS (
        |  SELECT CAST(doc_id % 30 AS INT) AS day, md5(text) AS h,
        |         count(*) AS n
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2),
        |fd AS (SELECT h, min(day) AS d0 FROM ph GROUP BY 1)
        |SELECT day, CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_novel,
        |       round(CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(n) AS DOUBLE), 6) AS novelty_rate
        |FROM ph JOIN fd USING (h) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C4-style line-level dedup: corpus-frequent boilerplate lines
    // (planted by doc_id arithmetic) are scrubbed, document bodies kept
    QuerySpec("q_line_dedup", ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\nfollow us on example social"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("\nall rights reserved"))
            .otherwise(lit(""))).as("text"))
      LineDedup.removeDuplicateLines(aug, "doc_id", "text", minOccurrences = 3)
        .select("doc_id", "text").orderBy("doc_id")
    }), Sql(
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0
        |          THEN chr(10) || 'follow us on example social' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0
        |          THEN chr(10) || 'all rights reserved' ELSE '' END) AS text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(sp) AS line, unnest(range(0, len(sp))) AS pos
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS sp FROM aug)),
        |f AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 3),
        |k AS (SELECT doc_id, pos, line FROM l
        |      WHERE line NOT IN (SELECT line FROM f))
        |SELECT a.doc_id,
        |       coalesce(s.txt, '') AS text
        |FROM aug a LEFT JOIN (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS txt
        |  FROM k GROUP BY doc_id) s USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    QuerySpec("q_word_jaccard", ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 100)
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }), Sql(
      """WITH w AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> x <> ''))) AS word
        |  FROM documents WHERE doc_id < 100),
        |sizes AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
        |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       round(nc * 1.0 / (sa.n + sb.n - nc), 6) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE nc * 1.0 / (sa.n + sb.n - nc) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    QuerySpec("q_dedup_clusters", ((s, d) => {
      // transitive closure of the (oracled) word-jaccard pairs: every
      // vertex labeled with its component's min id — hash-min label
      // propagation vs a recursive-CTE reachability oracle
      val docs = t(s, d, "documents").where(col("doc_id") < 100)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.5)
      Dedup.nearDupClusters(pairs).orderBy("id")
    }), Sql(
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> x <> ''))) AS word
        |  FROM documents WHERE doc_id < 100),
        |sizes AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
        |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |kept AS (
        |  SELECT id_a, id_b FROM pairs
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE nc * 1.0 / (sa.n + sb.n - nc) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM kept
        |  UNION ALL SELECT id_b, id_a FROM kept),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        |SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    QuerySpec("q_minhash_pairs", ((s, d) =>
      Dedup.minhashNearDuplicates(
          t(s, d, "documents"), "doc_id", "text", k = 32, bands = 8, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")), RowsOnly("hash-specific")),

    QuerySpec("q_simhash_pairs", ((s, d) =>
      Dedup.simhashNearDuplicates(t(s, d, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")), RowsOnly("hash-specific")),

    // planted-recall oracles: every self-unioned exact duplicate
    // MUST surface through the LSH path (jaccard 1 / hamming 0 / cosine
    // 1 pairs collide in every band/bucket by construction), so the
    // recovered-planted-pair count is oracle-computable exactly — this
    // converts "LSH runs" into "LSH finds what it must find" ----
    // planted-recall: the expected recovered-pair count is exactly the
    // number of planted duplicates (one (id, id+1000000) pair per doc)
    QuerySpec("q_minhash_recall", ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 500)
      val doubled = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000))
      // maxBucket > corpus size: the cap must not eat planted pairs
      Dedup.minhashNearDuplicates(doubled, "doc_id", "text",
          k = 32, bands = 8, threshold = 0.9, maxBucket = 5000)
        .where(col("id_b") === col("id_a") + 1000000 && col("jaccard") === 1.0)
        .agg(count(lit(1)).as("n_planted_found"))
    }), Sql(
      "SELECT count(*) AS n_planted_found FROM documents WHERE doc_id < 500")),

    QuerySpec("q_simhash_recall", ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 500)
      val doubled = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.simhashNearDuplicates(doubled, "doc_id", "text",
          maxHamming = 3, maxBucket = 5000)
        .where(col("id_b") === col("id_a") + 1000000 && col("hamming") === 0)
        .agg(count(lit(1)).as("n_planted_found"))
    }), Sql(
      "SELECT count(*) AS n_planted_found FROM documents WHERE doc_id < 500")),

    QuerySpec("q_embedding_recall", ((s, d) => {
      val embs = t(s, d, "embeddings").where(col("vec_id") < 500)
      val doubled = embs.unionByName(
        embs.withColumn("vec_id", col("vec_id") + 1000000))
      Dedup.embeddingNearDuplicates(doubled, "vec_id", "embedding",
          dim = 64, threshold = 0.999)
        .where(col("id_b") === col("id_a") + 1000000)
        .agg(count(lit(1)).as("n_planted_found"))
    }), Sql(
      "SELECT count(*) AS n_planted_found FROM embeddings WHERE vec_id < 500")),

    QuerySpec("q_exact_dups", ((s, d) => {
      // self-union doubles every doc → every text is an exact-dup group
      val docs = t(s, d, "documents")
      val doubled = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exactDuplicates(doubled, "doc_id", "text")
        .agg(count(lit(1)).as("n_groups"), sum(col("n_docs")).as("n_docs_total"))
    }), Sql(
      """SELECT count(*) AS n_groups, sum(n_docs)::BIGINT AS n_docs_total FROM (
        |  SELECT text, count(*) AS n_docs FROM (
        |    SELECT doc_id, text FROM documents
        |    UNION ALL
        |    SELECT doc_id + 1000000, text FROM documents)
        |  GROUP BY text HAVING count(*) > 1)""".stripMargin)),

    QuerySpec("q_contamination", ((s, d) => {
      // benchmark decontamination: corpus docs sharing ≥2 distinct
      // 5-gram shingles with the (small) eval set — hash-keyed broadcast
      // join; oracle replicates the shingle construction and string join
      val docs = t(s, d, "documents")
      val bench = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bid"), col("text"))
      Dedup.ngramContamination(docs, "doc_id", "text", bench, "bid", "text",
          n = 5, minHits = 2)
        .orderBy("corpus_id", "bench_id")
    }), Sql(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 5
        |    THEN list_transform(range(1, len(ws) - 3),
        |                        i -> array_to_string(ws[i:i+4], ' '))
        |    ELSE [array_to_string(ws, ' ')] END)) AS s
        |  FROM t),
        |c AS (SELECT doc_id AS corpus_id, s FROM sh),
        |b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 50 = 0)
        |SELECT corpus_id, bench_id, count(*) AS n_shared
        |FROM c JOIN b USING (s)
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY corpus_id, bench_id""".stripMargin)),

    // substring-level dup signal: fraction of each doc's distinct
    // 5-grams that occur in another doc (hash-keyed; oracle replays the
    // same shingles as strings)
    QuerySpec("q_dup_spans", ((s, d) =>
      Dedup.duplicatedSpanFraction(t(s, d, "documents"), "doc_id", "text", n = 5)
        .orderBy("doc_id")), Sql(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 5
        |    THEN list_transform(range(1, len(ws) - 3),
        |                        i -> array_to_string(ws[i:i+4], ' '))
        |    ELSE [array_to_string(ws, ' ')] END)) AS s
        |  FROM t),
        |cnt AS (SELECT s, count(*) AS n_docs FROM sh GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_shared,
        |       round(CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS dup_fraction
        |FROM sh JOIN cnt USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QuerySpec("q_embedding_neardup", ((s, d) => {
      val embs = t(s, d, "embeddings")
      val doubled = embs.unionByName(
        embs.where(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 500000))
      Dedup.embeddingNearDuplicates(doubled, "vec_id", "embedding",
          dim = 64, threshold = 0.999)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    }), RowsOnly("seeded hyperplane-LSH candidates are hash-specific")),

    QuerySpec("q_dedup_apply", ((s, d) => {
      // doubled corpus → exact-dedup keeps one representative per text
      val docs = t(s, d, "documents")
      val doubled = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000))
      import s.implicits._
      Seq(Dedup.dropExactDuplicates(doubled, "doc_id", "text").count())
        .toDF("n_kept")
    }), Sql(
      "SELECT count(*) AS n_kept FROM documents")),

    // exact-dedup keep-BEST: the surviving copy minimizes (keepBy, id)
    // rather than plain min id — here keepBy = id mod 7, a
    // SQL-replicable stand-in for "highest quality copy wins"
    QuerySpec("q_dedup_keep_best", ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val doubled = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.dropExactDuplicates(doubled, "doc_id", "text",
          keepBy = Some(pmod(col("doc_id"), lit(7L))))
        .select("doc_id")
    }), Sql(
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents)
        |SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY text
        |           ORDER BY doc_id % 7, doc_id) AS rn
        |  FROM doubled) WHERE rn = 1""".stripMargin)),

    // incremental dedup: new batch vs an already-ingested corpus —
    // bloom prefilter (no false negatives) + exact anti-join confirm;
    // oracle is the plain NOT EXISTS text anti-join
    QuerySpec("q_incremental_dedup", ((s, d) => {
      val docs = t(s, d, "documents")
      val seen = docs.where(col("doc_id") < 250)
      Dedup.dropSeenDuplicates(docs, seen, "text", expectedSeen = 250)
        .select("doc_id").orderBy("doc_id")
    }), Sql(
      """SELECT b.doc_id FROM documents b
        |WHERE NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id < 250 AND s.text = b.text)
        |ORDER BY b.doc_id""".stripMargin)),

    // cross-source copy matrix: distinct texts shared verbatim between
    // source pairs (planted '_m' mirror sources on %23 keys) — two
    // sources sharing texts are one source weighted twice
    QuerySpec("q_cross_copies", ((s, d) => {
      val docs = t(s, d, "documents")
      val mirror = docs.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"),
          concat(col("source"), lit("_m")).as("source"))
      Dedup.crossSourceCopies(
        docs.select("doc_id", "text", "source").unionByName(mirror),
        "text", "source")
    }), Sql(
      """WITH aug AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, source || '_m' FROM documents
        |  WHERE doc_id % 23 = 0),
        |hs AS (SELECT DISTINCT text, source FROM aug
        |       WHERE text IS NOT NULL)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       count(*) AS n_shared_texts
        |FROM hs a JOIN hs b ON a.text = b.text AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // adversarial dedup laundering: duplicates visible only after
    // Cyrillic->Latin homoglyph folding (planted confusable-substituted
    // copies on %19 keys) — visually identical, byte-hash distinct
    QuerySpec("q_homoglyph_dups", ((s, d) => {
      val docs = t(s, d, "documents")
      val variants = docs.where(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          translate(col("text"), "aeopcxy", "аеорсху").as("text"))
      Dedup.homoglyphGain(
        docs.select("doc_id", "text").unionByName(variants),
        "doc_id", "text")
    }), Sql(
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000,
        |         translate(text, 'aeopcxy', 'аеорсху')
        |  FROM documents WHERE doc_id % 19 = 0),
        |raw AS (SELECT coalesce(sum(n), 0) AS d FROM (
        |  SELECT count(*) AS n FROM aug WHERE text IS NOT NULL
        |  GROUP BY text HAVING count(*) > 1)),
        |fold AS (SELECT coalesce(sum(n), 0) AS d FROM (
        |  SELECT count(*) AS n FROM aug WHERE text IS NOT NULL
        |  GROUP BY translate(text, 'аеорсхуАЕОРСХУ', 'aeopcxyAEOPCXY')
        |  HAVING count(*) > 1)),
        |nn AS (SELECT count(*) AS n FROM aug WHERE text IS NOT NULL)
        |SELECT nn.n AS n_rows, CAST(raw.d AS BIGINT) AS raw_dup_rows,
        |  CAST(fold.d AS BIGINT) AS folded_dup_rows,
        |  CAST(fold.d - raw.d AS BIGINT) AS gain_rows
        |FROM nn, raw, fold""".stripMargin)),

    // cross-snapshot NEAR-dup planted recall (the q_minhash_recall
    // pattern for the asymmetric batch-vs-seen path): every batch row is
    // an exact copy (id + 1000000) of a seen doc, so each must surface
    // against its twin at jaccard 1.0 — identical shingle sets collide
    // in every band by construction, so LSH randomness can't miss.
    QuerySpec("q_seen_neardup_recall", ((s, d) => {
      val docs = t(s, d, "documents")
      val seen = docs.where(col("doc_id") < 500)
      val batch = seen.withColumn("doc_id", col("doc_id") + 1000000)
      Dedup.minhashSeenDuplicates(batch, "doc_id", "text",
          seen, "doc_id", "text",
          k = 32, bands = 8, threshold = 0.9, maxBucket = 5000)
        .where(col("batch_id") === col("seen_id") + 1000000 &&
          col("jaccard") === 1.0)
        .agg(count(lit(1)).as("n_planted_found"))
    }), Sql(
      "SELECT count(*) AS n_planted_found FROM documents WHERE doc_id < 500")),

    // substring-level dedup APPLY: tokens covered by a 3-gram occurring
    // in >= 2 distinct docs are scrubbed (Lee-et-al removal on the token
    // payload); scalar projections verify content and order of survivors
    QuerySpec("q_span_scrub", ((s, d) => {
      val scrubbed = Dedup.removeDuplicatedSpans(
        decontamCorpus(s, d).select(col("doc_id"), col("tokens")),
        "doc_id", "tokens", n = 3)
      scrubbed.select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_orig"),
          size(col("tokens_clean")).cast("long").as("n_kept"),
          aggregate(col("tokens_clean"), lit(0L), (a, x) => a + x).as("kept_sum"))
        .orderBy("doc_id")
    }), Sql(
      s"""WITH $SeqTableCte,
        |corpus AS (SELECT did, toks FROM s2 WHERE starts_with(did, 'doc_')),
        |gp AS (SELECT did, pos, toks[pos + 1 : pos + 3] AS g FROM (
        |         SELECT did, toks,
        |                unnest(range(0, greatest(len(toks) - 2, 0))) AS pos
        |         FROM corpus)),
        |dup AS (SELECT g FROM (
        |          SELECT g, count(DISTINCT did) AS nd FROM gp GROUP BY g)
        |        WHERE nd >= 2),
        |st AS (SELECT did, list_sort(list(pos)) AS starts
        |       FROM gp JOIN dup USING (g) GROUP BY did),
        |r AS (SELECT c.did, c.toks, coalesce(s.starts, []) AS starts
        |      FROM corpus c LEFT JOIN st s USING (did)),
        |k AS (SELECT did, toks,
        |        list_transform(
        |          list_filter(range(0, len(toks)),
        |            p -> len(list_filter(starts,
        |                   q -> q <= p AND p < q + 3)) = 0),
        |          p -> toks[p + 1]) AS kept
        |      FROM r)
        |SELECT did AS doc_id, CAST(len(toks) AS BIGINT) AS n_orig,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       CAST(coalesce(list_sum(kept), 0) AS BIGINT) AS kept_sum
        |FROM k ORDER BY doc_id""".stripMargin)),

    // dedup ROI accounting: rows/chars a dedup pass would reclaim per
    // source (copies planted at doc_id%10==0 via the self-union
    // pattern); winners by min id, text never enters an exchange
    QuerySpec("q_dedup_savings", ((s, d) => {
      val docs = t(s, d, "documents")
        .select("doc_id", "text", "source", "n_chars")
      val planted = docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.dedupSavings(docs.unionByName(planted), "doc_id", "text",
          "source", "n_chars")
        .orderBy("source")
    }), Sql(
      """WITH u AS (
        |  SELECT doc_id, text, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, source, n_chars FROM documents
        |  WHERE doc_id % 10 = 0),
        |h AS (SELECT doc_id, source, n_chars, md5(text) AS hh FROM u),
        |w AS (SELECT hh, min(doc_id) AS win FROM h GROUP BY 1)
        |SELECT source, count(*) AS n_dropped,
        |       CAST(sum(n_chars) AS BIGINT) AS size_saved
        |FROM h JOIN w USING (hh) WHERE doc_id <> win
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // same-content label-conflict audit: identical bytes under
    // different lang labels (conflicts planted via the self-union
    // pattern with lang='xx'); (hash, label) pre-aggregate, text never
    // shuffles
    QuerySpec("q_lang_conflicts", ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text", "lang")
      val planted = docs.where(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("lang", lit("xx"))
      Dedup.contentLabelConflicts(docs.unionByName(planted), "text", "lang")
        .orderBy("content_hash")
    }), Sql(
      """WITH u AS (
        |  SELECT text, lang FROM documents
        |  UNION ALL
        |  SELECT text, 'xx' AS lang FROM documents WHERE doc_id % 25 = 0),
        |p AS (SELECT md5(text) AS content_hash,
        |        coalesce(CAST(lang AS VARCHAR), '<null>') AS l FROM u),
        |c AS (SELECT content_hash, l, count(*) AS n FROM p GROUP BY 1, 2)
        |SELECT content_hash, CAST(sum(n) AS BIGINT) AS n_docs,
        |  count(*) AS n_labels,
        |  array_to_string(list_sort(list(l)), ',') AS labels
        |FROM c GROUP BY 1 HAVING count(*) > 1
        |ORDER BY 1""".stripMargin)),

    // similarity-score histogram over the word-jaccard candidate pairs
    // — the dedup-threshold calibration view; bounded aggregate over
    // the bounded pair frame
    QuerySpec("q_jaccard_hist", ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 100)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1,
          threshold = 0.0)
        .select(round(col("jaccard"), 6).as("jaccard"))
      Dedup.similarityHistogram(pairs, "jaccard", nBuckets = 10)
        .orderBy("bucket")
    }), Sql(
      """WITH w AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> x <> ''))) AS word
        |  FROM documents WHERE doc_id < 100),
        |sizes AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
        |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT round(nc * 1.0 / (sa.n + sb.n - nc), 6) AS j
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b)
        |SELECT CAST(least(floor(j * 10), 9) AS BIGINT) AS bucket,
        |       count(*) AS n_pairs
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // winnowing fingerprints (MOSS): md5 oracle mode — DuckDB
    // replays gram hashing AND the rightmost-min window selection, so
    // the full fingerprint SET is hash-verified (the CDC md5 pattern);
    // the native Karp–Rabin deque is the O(len) scale path
    // (WinnowingSpec differential). Fixture docs are all ≥ 47 chars,
    // so the short-doc branch never fires here (unit-tested instead).
    QuerySpec("q_winnow", ((s, d) =>
      orderedOnce(
        Winnowing.fingerprintsMd5(t(s, d, "documents"), "doc_id", "text",
          k = 8, w = 4),
        "doc_id", "fp")), Sql(
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(text) - 6)) AS pos, text
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, pos,
        |    substr(md5(substr(text, pos, 8)), 1, 16) AS h,
        |    len(text) - 7 AS m
        |  FROM g),
        |sel AS (
        |  SELECT doc_id, pos, m,
        |    min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id
        |      ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |      AS s
        |  FROM g2)
        |SELECT DISTINCT doc_id, struct_extract(s, 'h') AS fp
        |FROM sel WHERE pos >= least(4, m)
        |ORDER BY doc_id, fp""".stripMargin)),

    // the detection guarantee, oracle-replayed: a 3-char prefix shift
    // preserves every length ≥ w+k−1 = 11 match, so each of the 200
    // planted copies must share fingerprints with its original
    QuerySpec("q_winnow_pairs", ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 200)
      val union = docs.select(col("doc_id"), col("text"))
        .union(docs.select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("ZQ "), col("text")).as("text")))
      val fps = Winnowing.fingerprintsMd5(union, "doc_id", "text", 8, 4)
      val a = fps.where(col("doc_id") < 1000000)
        .select(col("doc_id").as("a"), col("fp"))
      val b = fps.where(col("doc_id") >= 1000000)
        .select((col("doc_id") - 1000000).as("a"), col("fp"))
      a.join(b, Seq("a", "fp"))
        .groupBy("a").agg(count(lit(1)).as("n_shared"))
        .orderBy("a")
    }), Sql(
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'ZQ ' || text
        |  FROM documents WHERE doc_id < 200),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(text) - 6)) AS pos, text
        |  FROM d0),
        |g2 AS (
        |  SELECT doc_id, pos,
        |    substr(md5(substr(text, pos, 8)), 1, 16) AS h,
        |    len(text) - 7 AS m
        |  FROM g),
        |sel AS (
        |  SELECT doc_id, pos, m,
        |    min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id
        |      ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |      AS s
        |  FROM g2),
        |fp AS (
        |  SELECT DISTINCT doc_id, struct_extract(s, 'h') AS fp
        |  FROM sel WHERE pos >= least(4, m)),
        |a AS (SELECT doc_id AS a, fp FROM fp WHERE doc_id < 1000000),
        |b AS (SELECT doc_id - 1000000 AS a, fp FROM fp
        |      WHERE doc_id >= 1000000)
        |SELECT a.a, CAST(count(*) AS BIGINT) AS n_shared
        |FROM a JOIN b USING (a, fp)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // cross-doc stitch candidates (pagination reassembly): planted
    // continuation pages whose head is the parent's 16-char tail; exact
    // mode joins the raw grams so DuckDB replays the candidate set
    // verbatim (hash mode is the narrow production path, tested)
    QuerySpec("q_stitch", ((s, d) => {
      val docs = t(s, d, "documents")
        .where(col("doc_id") < 300 && length(col("text")) >= 16)
      val parts = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
          concat(expr("substring(text, -16, 16)"),
            lit(" continuation page")).as("text")))
      Dedup.stitchCandidates(parts, "doc_id", "text", k = 16,
          exact = true)
        .orderBy("tail_id", "head_id")
    }), Sql(
      """WITH base AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id < 300 AND length(text) >= 16),
        |u AS (SELECT doc_id, text FROM base
        |      UNION ALL
        |      SELECT doc_id + 1000000,
        |             right(text, 16) || ' continuation page' FROM base),
        |tl AS (SELECT doc_id AS tail_id, right(text, 16) AS g
        |       FROM u WHERE length(text) >= 16),
        |hd AS (SELECT doc_id AS head_id, substr(text, 1, 16) AS g
        |       FROM u WHERE length(text) >= 16)
        |SELECT tail_id, head_id FROM tl JOIN hd USING (g)
        |WHERE tail_id <> head_id
        |ORDER BY tail_id, head_id""".stripMargin)),

    // edit-distance near-dup (short keys): length-banded
    // candidate join (W >= maxDist ⇒ qualifying pairs land in same or
    // adjacent buckets; one side fans {b-1,b,b+1}, the probe bucket
    // pins to the other side's own bucket ⇒ each pair produced exactly
    // once) + threshold levenshtein verify. Keys are synthesized short
    // record labels (same arithmetic in the oracle, which brute-pairs
    // with the pure length prefilter — same semantics, no banding)
    // brute pair join with the pure length prefilter — same semantics
    // as the banded candidate join (banding is complete for
    // |Δlen| <= maxDist when W >= maxDist), no banding needed at
    // oracle scale
    QuerySpec("q_editdist_pairs", ((s, d) => {
      val recs = t(s, d, "documents")
        .where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), expr(
          "concat('rec-', lpad(CAST(doc_id % 40 AS STRING), 3, '0'), " +
          "repeat('z', CAST(doc_id % 4 AS INT)))").as("k"))
      EditDistance.neardupPairs(recs, "doc_id", "k", maxDist = 2,
          bucketWidth = 2)
        .groupBy(col("dist").cast("long").as("dist"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("id_a")).as("sum_a"), sum(col("id_b")).as("sum_b"))
        .orderBy("dist")
    }), Sql(
      """WITH r AS (
        |  SELECT doc_id,
        |         'rec-' || lpad(CAST(doc_id % 40 AS VARCHAR), 3, '0') ||
        |         repeat('z', CAST(doc_id % 4 AS INT)) AS k
        |  FROM documents WHERE doc_id % 7 = 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         levenshtein(a.k, b.k) AS dist
        |  FROM r a JOIN r b
        |    ON a.doc_id < b.doc_id
        |   AND abs(length(a.k) - length(b.k)) <= 2)
        |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_pairs,
        |       CAST(sum(id_a) AS BIGINT) AS sum_a,
        |       CAST(sum(id_b) AS BIGINT) AS sum_b
        |FROM p WHERE dist <= 2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // cross-source duplication matrix ("who copies whom"):
    // shared-content groups planted across sources by id arithmetic;
    // per-pair counts from a distinct (key, source) self-join — text
    // never moves (the key is a hash)
    QuerySpec("q_dup_matrix", ((s, d) =>
      Dedup.crossSourceMatrix(
        t(s, d, "documents").withColumn("key",
          when(col("doc_id") % 9 < 3,
            concat(lit("shared-"), (col("doc_id") % 50).cast("string")))
            .otherwise(md5(col("text")))),
        "key", "source")), Sql(
      """WITH k AS (
        |  SELECT DISTINCT
        |    CASE WHEN doc_id % 9 < 3
        |         THEN 'shared-' || CAST(doc_id % 50 AS VARCHAR)
        |         ELSE md5(text) END AS key,
        |    source
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       count(*) AS n_shared_groups
        |FROM k a JOIN k b ON a.key = b.key AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // exact-threshold set-similarity join via PPJoin prefix
    // filtering: only rarest-prefix tokens generate candidates (hot
    // boilerplate tokens sit at the end of every doc's order and never
    // join); identical jaccard spelling as the inverted-index path, so
    // the q_word_jaccard-style brute oracle verifies the full pair set
    // brute pairwise jaccard — same semantics the prefix-filtered
    // candidate path must reproduce in full
    QuerySpec("q_ppjoin", ((s, d) =>
      Dedup.prefixFilterJaccardPairs(
          t(s, d, "documents").where(col("doc_id") < 150),
          "doc_id", "text", n = 1, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")), Sql(
      """WITH w AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> x <> ''))) AS word
        |  FROM documents WHERE doc_id < 150),
        |sizes AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
        |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       round(nc * 1.0 / (sa.n + sb.n - nc), 6) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE nc * 1.0 / (sa.n + sb.n - nc) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // blocking-quality meta-eval for the edit-distance banding:
    // reduction ratio + measured completeness (provably 1.0 — and
    // measured anyway) on the same synthetic keys as q_editdist_pairs
    QuerySpec("q_blocking_quality", ((s, d) => {
      val recs = t(s, d, "documents")
        .where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), expr(
          "concat('rec-', lpad(CAST(doc_id % 40 AS STRING), 3, '0'), " +
          "repeat('z', CAST(doc_id % 4 AS INT)))").as("k"))
      EditDistance.bandingStats(recs, "doc_id", "k", maxDist = 2,
        bucketWidth = 2)
    }), Sql(
      """WITH r AS (
        |  SELECT doc_id,
        |         'rec-' || lpad(CAST(doc_id % 40 AS VARCHAR), 3, '0') ||
        |         repeat('z', CAST(doc_id % 4 AS INT)) AS k
        |  FROM documents WHERE doc_id % 7 = 0),
        |n AS (SELECT count(*) AS n FROM r),
        |pairs AS (
        |  SELECT length(a.k) AS la, length(b.k) AS lb,
        |         length(a.k) // 2 AS ba, length(b.k) // 2 AS bb,
        |         levenshtein(a.k, b.k) AS dist
        |  FROM r a JOIN r b ON a.doc_id < b.doc_id),
        |agg AS (
        |  SELECT count(*) AS total,
        |         CAST(sum(CASE WHEN abs(la - lb) <= 2
        |                        AND abs(ba - bb) <= 1
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS cand,
        |         CAST(sum(CASE WHEN dist <= 2 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_true,
        |         CAST(sum(CASE WHEN abs(la - lb) <= 2
        |                        AND abs(ba - bb) <= 1 AND dist <= 2
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_found
        |  FROM pairs)
        |SELECT n.n AS n_items, agg.total AS n_pairs_total,
        |       agg.cand AS n_candidates,
        |       round(CAST(1 AS DOUBLE)
        |             - CAST(agg.cand AS DOUBLE)
        |               / CAST(agg.total AS DOUBLE), 6) AS reduction_ratio,
        |       agg.n_true, agg.n_found,
        |       round(CAST(agg.n_found AS DOUBLE)
        |             / CAST(agg.n_true AS DOUBLE), 6) AS completeness
        |FROM n, agg""".stripMargin)),

    // Jaro–Winkler linkage similarity: typo'd name pairs by
    // doc_id arithmetic (identity / head-drop / append / vowel swap
    // incl. a multibyte é); the oracle is DuckDB's INDEPENDENT
    // jaro_winkler_similarity implementation — a true cross-engine
    // differential of two codebases, fuzz-pinned bit-exact
    // Jaro–Winkler: DuckDB's OWN independent implementation is the
    // oracle — same pair construction, both engines round the same
    // bit-identical double (byte-level match window, boost>0.7,
    // 4-byte prefix cap; fuzz-pinned on 30k random pairs)
    QuerySpec("q_jaro_winkler", ((s, d) => {
      val id = col("doc_id").cast("long")
      val a = concat(lit("user_"), col("source"), lit("_"),
        (id % 97).cast("string"))
      val b = when(id % 4 === 0, a)
        .when(id % 4 === 1, substring(a, 2, 1000))
        .when(id % 4 === 2, concat(a, lit("x")))
        .otherwise(translate(a, "aeu", "eaé"))
      t(s, d, "documents").select(col("doc_id"),
          round(graft.functions.MatchExpressions.jaroWinkler(a, b), 6)
            .as("jw"))
        .orderBy("doc_id")
    }), Sql(
      """WITH p AS (
        |  SELECT doc_id,
        |         'user_' || source || '_' ||
        |           CAST(doc_id % 97 AS VARCHAR) AS a
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, a,
        |    CASE WHEN doc_id % 4 = 0 THEN a
        |         WHEN doc_id % 4 = 1 THEN substr(a, 2)
        |         WHEN doc_id % 4 = 2 THEN a || 'x'
        |         ELSE translate(a, 'aeu', 'eaé') END AS b
        |  FROM p)
        |SELECT doc_id, round(jaro_winkler_similarity(a, b), 6) AS jw
        |FROM q ORDER BY doc_id""".stripMargin)),

    // dedup-saturation curve: duplicate rate by crawl position
    // (planted boilerplate copies at doc_id%10); text hashed in the
    // scan, cumulative window over the O(buckets) frame
    // dedup saturation: identical planted boilerplate, md5 content
    // keys, bucket arithmetic and cumulative window
    QuerySpec("q_dup_saturation", ((s, d) => {
      val id = col("doc_id").cast("long")
      val txt = when(id % 10 === 0,
          concat(lit("boilerplate page "), (id % 3).cast("string")))
        .otherwise(col("text"))
      Dedup.duplicateSaturation(
        t(s, d, "documents").select(col("doc_id"), txt.as("text")),
        "doc_id", "text", bucketWidth = 50L)
    }), Sql(
      """WITH x AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |         THEN 'boilerplate page ' || CAST(doc_id % 3 AS VARCHAR)
        |         ELSE text END AS t
        |  FROM documents),
        |h AS (SELECT doc_id, md5(t) AS hh FROM x),
        |f AS (SELECT hh, min(doc_id) AS fst FROM h GROUP BY hh),
        |fl AS (SELECT h.doc_id // 50 AS bucket,
        |              (h.doc_id > f.fst) AS dup
        |       FROM h JOIN f USING (hh)),
        |b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
        |               AS n_dups
        |      FROM fl GROUP BY bucket),
        |c AS (SELECT *,
        |        CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT)
        |          AS cum_docs,
        |        CAST(sum(n_dups) OVER (ORDER BY bucket) AS BIGINT)
        |          AS cum_dups
        |      FROM b)
        |SELECT bucket, n_docs, n_dups,
        |  round(CAST(n_dups AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS dup_rate,
        |  cum_dups,
        |  round(CAST(cum_dups AS DOUBLE) / CAST(cum_docs AS DOUBLE), 6)
        |    AS cum_rate
        |FROM c ORDER BY bucket""".stripMargin)),

    // LSH banding design table (128 perms, target jaccard 0.8): the
    // S-curve fp/fn trade per divisor split with the argmin flagged —
    // the tuning step that must precede a cluster-day of minhash;
    // pure math on an O(divisors × grid) frame, no data scanned
    QuerySpec("q_lsh_tuning", ((s, d) => Dedup.lshBandPlan(s)), Sql(
      """WITH sp AS (
        |  SELECT CAST(128 // r AS INTEGER) AS n_bands,
        |         CAST(r AS INTEGER) AS n_rows
        |  FROM (SELECT unnest([1,2,4,8,16,32,64,128]) AS r)),
        |g AS (SELECT n_bands, n_rows, unnest(range(1, 20)) AS i FROM sp),
        |p AS (
        |  SELECT n_bands, n_rows, CAST(i AS DOUBLE) / 20 AS s,
        |    1.0 - pow(1.0 - pow(CAST(i AS DOUBLE) / 20,
        |                        CAST(n_rows AS DOUBLE)),
        |              CAST(n_bands AS DOUBLE)) AS pc
        |  FROM g),
        |a AS (
        |  SELECT n_bands, n_rows,
        |    sum(CASE WHEN s < 0.8 THEN pc * (1.0 / 20) ELSE 0 END) AS fp,
        |    sum(CASE WHEN s >= 0.8 THEN (1.0 - pc) * (1.0 / 20)
        |             ELSE 0 END) AS fn
        |  FROM p GROUP BY 1, 2),
        |sc AS (
        |  SELECT n_bands, n_rows,
        |    round(pow(1.0 / CAST(n_bands AS DOUBLE),
        |              1.0 / CAST(n_rows AS DOUBLE)), 6) AS s_star,
        |    round(1.0 - pow(1.0 - pow(0.8, CAST(n_rows AS DOUBLE)),
        |                    CAST(n_bands AS DOUBLE)), 6)
        |      AS p_at_threshold,
        |    round(fp, 6) AS fp_area, round(fn, 6) AS fn_area,
        |    round(fp + fn, 6) AS total_cost
        |  FROM a),
        |mc AS (SELECT min(total_cost) AS mc FROM sc),
        |mb AS (SELECT min(n_bands) AS mb FROM sc, mc
        |       WHERE total_cost = mc.mc)
        |SELECT sc.n_bands, sc.n_rows, s_star, p_at_threshold, fp_area,
        |  fn_area, total_cost,
        |  (total_cost = mc.mc AND sc.n_bands = mb.mb) AS recommended
        |FROM sc, mc, mb ORDER BY sc.n_bands""".stripMargin)),

    // Bloom-filter sizing table at the corpus's LIVE key count:
    // optimal k and fpr per bits-per-item budget, first budget meeting
    // 1% flagged — the capacity decision before a 10^12-key filter
    QuerySpec("q_bloom_plan", ((s, d) =>
      Dedup.bloomPlan(t(s, d, "documents"), "doc_id")), Sql(
      """WITH n AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_items
        |  FROM documents WHERE doc_id IS NOT NULL),
        |b AS (SELECT unnest([4,6,8,10,12,16,20,24]) AS bits_per_item),
        |c AS (
        |  SELECT bits_per_item, n_items,
        |    greatest(1.0, round(CAST(bits_per_item AS DOUBLE) * ln(2.0)))
        |      AS k
        |  FROM b, n)
        |SELECT bits_per_item, n_items,
        |  CAST(bits_per_item AS BIGINT) * n_items AS m_bits,
        |  CAST(k AS BIGINT) AS k_hashes,
        |  round(pow(1.0 - exp(-1.0 * k / CAST(bits_per_item AS DOUBLE)),
        |            k), 6) AS fpr,
        |  round(pow(1.0 - exp(-1.0 * k / CAST(bits_per_item AS DOUBLE)),
        |            k), 6) <= 0.01 AS acceptable
        |FROM c ORDER BY bits_per_item""".stripMargin)),
  )
}
