package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.operators._

import Fixtures._

/** Embedding similarity, ANN search and embedding statistics
  * (`Similarity`, `EmbeddingQC`, `EmbeddingStats`). */
object EmbeddingQueries {

  val specs: Seq[QuerySpec] = Seq(

    // clustering quality for the IVF/SemDeDup tier: simplified
    // silhouette against 4 fixed axis-pattern centroids — one codegen'd
    // pass (k cosines/row), aggregate to k groups; the oracle replays
    // the identical double arithmetic via list_cosine_similarity
    QuerySpec("q_silhouette", ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      val cents = Array.tabulate(4)(c =>
        (c, Array.tabulate(64)(i => if (i % 4 == c) 1f else 0f)))
      Similarity.simplifiedSilhouette(t(s, d, "embeddings"),
        "vec_id", "embedding", cents)
    }), Sql(
      """WITH cents AS (
        |  SELECT c, list_transform(range(0, 64),
        |      i -> CASE WHEN i % 4 = c THEN 1.0 ELSE 0.0 END)::DOUBLE[]
        |    AS cv
        |  FROM (SELECT unnest(range(0, 4)) AS c)),
        |scored AS (
        |  SELECT e.vec_id, cents.c AS cid,
        |    list_cosine_similarity(e.embedding::DOUBLE[], cents.cv)
        |      AS score
        |  FROM embeddings e CROSS JOIN cents),
        |rk AS (
        |  SELECT vec_id, cid, score, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS r
        |  FROM scored),
        |pair AS (
        |  SELECT a.vec_id, CAST(a.cid AS INTEGER) AS cluster_id,
        |    1 - a.score AS ad, 1 - b.score AS bd
        |  FROM rk a JOIN rk b ON a.vec_id = b.vec_id
        |  WHERE a.r = 1 AND b.r = 2),
        |s AS (
        |  SELECT cluster_id,
        |    CASE WHEN greatest(ad, bd) <= 0 THEN 0.0
        |         ELSE (bd - ad) / greatest(ad, bd) END AS sil
        |  FROM pair)
        |SELECT cluster_id, count(*) AS n_vectors,
        |  round(avg(sil), 6) AS mean_silhouette
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // embedding-column QC: violations over deterministically planted
    // defects (NaN poison / zero vector / truncated dim / NULL whole
    // vector by vec_id arithmetic — same planting pattern as seqFromDocs)
    QuerySpec("q_embedding_qc", ((s, d) => {
      val e = t(s, d, "embeddings")
      val v = col("vec_id")
      val emb = col("embedding")
      val planted = e.select(v,
        when(v % 101 === 1, concat(slice(emb, 1, 1),
            array(lit(Float.NaN)), slice(emb, 3, 100000)))
          .when(v % 101 === 2, transform(emb, _ => lit(0.0f)))
          .when(v % 101 === 3, slice(emb, 1, 5))
          .when(v % 101 === 4, lit(null).cast("array<float>"))
          .otherwise(emb).as("embedding"))
      EmbeddingQC.violations(planted, "vec_id", "embedding", expectedDim = 64)
        .orderBy("vec_id", "rule_id")
    }), Sql(
      """WITH p AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 101 = 1 THEN
        |           list_concat(list_concat(embedding[1:1], [CAST('nan' AS FLOAT)]),
        |                       embedding[3:])
        |         WHEN vec_id % 101 = 2 THEN
        |           list_transform(embedding, x -> CAST(0 AS FLOAT))
        |         WHEN vec_id % 101 = 3 THEN embedding[1:5]
        |         WHEN vec_id % 101 = 4 THEN NULL
        |         ELSE embedding END AS emb
        |  FROM embeddings),
        |st AS (
        |  SELECT vec_id, len(emb) AS dim,
        |    len(list_filter(emb, x -> x IS NULL OR isnan(x) OR isinf(x))) AS nonf,
        |    len(emb) > 0
        |      AND len(list_filter(emb, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
        |      AND len(list_filter(emb, x -> x <> 0)) = 0 AS zero
        |  FROM p WHERE emb IS NOT NULL)
        |SELECT vec_id, rule_id, offending_value FROM (
        |  SELECT vec_id, 'R_EMB_NULL' AS rule_id,
        |         'null_embedding' AS offending_value FROM p WHERE emb IS NULL
        |  UNION ALL
        |  SELECT vec_id, 'R_EMB_DIM', 'dim=' || dim FROM st WHERE dim <> 64
        |  UNION ALL
        |  SELECT vec_id, 'R_EMB_NONFINITE', 'n_nonfinite=' || nonf
        |  FROM st WHERE nonf > 0
        |  UNION ALL
        |  SELECT vec_id, 'R_EMB_ZERO', 'all_zero' FROM st WHERE zero)
        |ORDER BY vec_id, rule_id""".stripMargin)),

    // SemDeDup (cluster-then-compare semantic dedup) with a FULL
    // survivor oracle: at τ=0.999 the only qualifying pairs are the
    // planted exact copies (max natural pairwise cosine ≈ 0.51, judged
    // sound at both SFs), identical vectors always share a cluster
    // (same floats → same argmax), so within-cluster == global and the
    // oracle can state the drop rule directly with NOT EXISTS
    // the drop rule stated directly: survivor iff no smaller-id vector
    // at cosine ≥ τ (within-cluster == global at τ=0.999 — see the
    // Spark-side comment); float vectors cast to DOUBLE for DuckDB's
    // list_cosine_similarity
    QuerySpec("q_semdedup", ((s, d) => {
      val embs = t(s, d, "embeddings").select("vec_id", "embedding")
      val doubled = embs.unionByName(
        embs.withColumn("vec_id", col("vec_id") + 1000000))
      Similarity.semDedup(doubled, "vec_id", "embedding",
          nCentroids = 8, threshold = 0.999)
        .select("vec_id").orderBy("vec_id")
    }), Sql(
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings)
        |SELECT a.vec_id FROM e a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e b WHERE b.vec_id < a.vec_id
        |    AND list_cosine_similarity(a.v, b.v) >= 0.999)
        |ORDER BY vec_id""".stripMargin)),

    QuerySpec("q_ann_topk", ((s, d) => {
      VectorExpressions.register(s)
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
      Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), col("vec_id"))
    }), Sql(
      """SELECT vec_id, round(score, 4) AS score FROM (
        |  SELECT vec_id, list_cosine_similarity(
        |    embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings ORDER BY vec_id LIMIT 1)) AS score
        |  FROM embeddings
        |  ORDER BY score DESC, vec_id LIMIT 10)
        |ORDER BY round(score, 4) DESC, vec_id""".stripMargin)),

    QuerySpec("q_ann_ivf", ((s, d) => {
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
      val idx = Similarity.buildIvf(embs, "vec_id", "embedding", nCentroids = 8)
      Similarity.ivfTopK(idx, "vec_id", "embedding", q, 10, nProbe = 4)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), col("vec_id"))
    }), RowsOnly("IVF recall is approximate")),

    // IVF planted-recall companion (the q_minhash_recall pattern for the
    // ANN scale path): every query vector has an EXACT planted duplicate
    // (vec_id + 1000000, identical floats) — identical vectors get the
    // identical nearestCentroid argmax, so the duplicate's cell is BY
    // CONSTRUCTION the first cell probed, and top-10 at cosine 1.0 must
    // surface both copies even at nProbe = 2 of 8. The oracle computes
    // the exact expected hit count (2 per query).
    // IVF planted recall: 2 guaranteed hits (query + its exact duplicate,
    // both cosine 1.0, same coarse cell by argmax determinism) per query
    QuerySpec("q_ivf_recall", ((s, d) => {
      val embs = t(s, d, "embeddings")
      val doubled = embs.unionByName(
        embs.withColumn("vec_id", col("vec_id") + 1000000))
      val idx = Similarity.buildIvf(doubled, "vec_id", "embedding", nCentroids = 8)
      val queries = embs.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfTopKBatch(idx, "vec_id", "embedding",
          queries, "qid", "embedding", k = 10, nProbe = 2)
        .where(col("id") === col("query_id") ||
          col("id") === col("query_id") + 1000000)
        .agg(count(lit(1)).as("n_planted_found"))
    }), Sql(
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_planted_found
        |FROM embeddings WHERE vec_id < 8""".stripMargin)),

    // IVF-PQ planted recall (the q_ivf_recall pattern for the
    // compressed tier): corpus L2-normalized then PQ-encoded to 8
    // bytes/vector (32x); each query is a corpus member with an exact
    // twin — identical floats encode to identical codes
    // (deterministic argmin tie-break), both score the query's own
    // ADC maximum neighborhood, and top-10 must surface both
    // IVF-PQ planted recall: identical twins quantize to identical
    // codes, so ADC top-10 finds both per query — 2 hits each
    QuerySpec("q_ivfpq_recall", ((s, d) => {
      val embs = Similarity.withL2Normalized(
        t(s, d, "embeddings"), "embedding", "nvec")
      val doubled = embs.unionByName(
        embs.withColumn("vec_id", col("vec_id") + 1000000))
      val model = Similarity.trainPq(doubled, "nvec",
        nSub = 8, nCodes = 64, iters = 1)
      val encoded = Similarity.pqEncodeAll(doubled, "nvec", model)
        .select("vec_id", "pq_codes")
      // bounded query collect (the ivfTopKBatch contract), then ONE
      // batched ADC job for all queries — the per-query loop this
      // replaces scanned the code table |Q| times (17.4 s at sf0.1)
      val queries = embs.where(col("vec_id") < 8)
        .select("vec_id", "nvec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
      Similarity.pqTopKBatch(encoded, "vec_id", "pq_codes", model,
          queries, k = 10)
        .where(col("vec_id") === col("query_id") ||
          col("vec_id") === col("query_id") + 1000000)
        .agg(count(lit(1)).as("n_planted_found"))
    }), Sql(
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_planted_found
        |FROM embeddings WHERE vec_id < 8""".stripMargin)),

    // per-label embedding centroids vs the corpus centroid: which
    // labels occupy their own region of embedding space — the
    // semantic-geometry mixture readout; vectors never shuffle whole
    QuerySpec("q_label_centroids", ((s, d) =>
      EmbeddingStats.groupCentroids(t(s, d, "embeddings"), "label",
        "embedding")), Sql(
      """WITH d AS (
        |  SELECT coalesce(label::VARCHAR, '<null>') AS g,
        |    unnest(embedding) AS x, unnest(range(len(embedding))) AS p
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pl AS (SELECT g, p, sum(x::DOUBLE) AS s, count(*) AS c
        |       FROM d GROUP BY 1, 2),
        |gl AS (SELECT p, sum(s) / sum(c) AS gx FROM pl GROUP BY 1),
        |lc AS (SELECT g, p, s / c AS lx FROM pl),
        |dots AS (SELECT lc.g, sum(lc.lx * gl.gx) AS dot,
        |         sum(lc.lx * lc.lx) AS na, sum(gl.gx * gl.gx) AS nb
        |         FROM lc JOIN gl USING (p) GROUP BY 1),
        |nv AS (SELECT g, max(c) AS n FROM pl GROUP BY 1)
        |SELECT dots.g AS label, CAST(nv.n AS BIGINT) AS n_vecs,
        |  round(dot / (sqrt(na) * sqrt(nb) + 1e-30), 6) AS cos_to_global
        |FROM dots JOIN nv USING (g) ORDER BY label""".stripMargin)),

    // label separability in embedding space: pairwise Fisher ratio
    // ||mu_a - mu_b||^2 / (tr_a + tr_b) — J near 0 means the
    // representation cannot tell the classes apart (no classifier fix)
    QuerySpec("q_fisher_ratio", ((s, d) =>
      EmbeddingStats.fisherSeparability(t(s, d, "embeddings"), "label",
        "embedding")), Sql(
      """WITH d AS (
        |  SELECT label::VARCHAR AS l, unnest(embedding) AS x,
        |         unnest(range(len(embedding))) AS p
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |st AS (SELECT l, p, sum(x::DOUBLE) AS s,
        |         sum(x::DOUBLE * x) AS ss, count(*) AS c
        |       FROM d GROUP BY 1, 2),
        |m AS (SELECT l, p, c, s / c AS mu,
        |        ss / c - (s / c) * (s / c) AS v FROM st),
        |tr AS (SELECT l, sum(v) AS trace, max(c) AS n FROM m GROUP BY 1),
        |pairs AS (SELECT a.l AS la, b.l AS lb,
        |    sum((a.mu - b.mu) * (a.mu - b.mu)) AS d2
        |  FROM m a JOIN m b ON a.p = b.p AND a.l < b.l GROUP BY 1, 2)
        |SELECT p.la AS label_a, p.lb AS label_b,
        |  CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
        |  round(p.d2, 6) AS dist2,
        |  CASE WHEN ta.trace + tb.trace > 0
        |       THEN round(p.d2 / (ta.trace + tb.trace), 6) END AS fisher
        |FROM pairs p JOIN tr ta ON ta.l = p.la JOIN tr tb ON tb.l = p.lb
        |ORDER BY label_a, label_b""".stripMargin)),

    // embedding centroid drift per label between interleaved snapshot
    // halves (vec_id parity): cosine of the two snapshot mean vectors —
    // the embedding-space drift check; one exploded (label, dim)
    // aggregate, shuffle bounded by |labels| x dim
    QuerySpec("q_centroid_drift", ((s, d) =>
      graft.operators.EmbeddingQC.centroidDrift(
        t(s, d, "embeddings")
          .withColumn("snap", (col("vec_id") % 2).cast("int")),
        "embedding", "label", "snap")
        .orderBy("label")), Sql(
      """WITH cnt AS (
        |  SELECT label,
        |    count(*) FILTER (vec_id % 2 = 0) AS n_base,
        |    count(*) FILTER (vec_id % 2 = 1) AS n_cur
        |  FROM embeddings GROUP BY 1),
        |e AS (
        |  SELECT label, vec_id % 2 AS snap,
        |    generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT label, dim,
        |    avg(CASE WHEN snap = 0 THEN v END) AS a,
        |    avg(CASE WHEN snap = 1 THEN v END) AS b
        |  FROM e GROUP BY 1, 2),
        |g AS (
        |  SELECT label, sum(a * b) AS ab, sum(a * a) AS aa,
        |         sum(b * b) AS bb
        |  FROM m GROUP BY 1)
        |SELECT cnt.label, cnt.n_base, cnt.n_cur,
        |  CASE WHEN g.aa > 0 AND g.bb > 0
        |       THEN round(g.ab / sqrt(g.aa * g.bb), 6) END AS centroid_cos
        |FROM cnt LEFT JOIN g ON cnt.label = g.label
        |ORDER BY cnt.label""".stripMargin)),

    // per-label embedding dispersion: mean/min cosine to the label
    // centroid — the semantic-diversity dial; centroid from one
    // (label, dim) aggregate, per-vector sums joined against the
    // broadcast centroid frame
    QuerySpec("q_embedding_dispersion", ((s, d) =>
      graft.operators.EmbeddingQC.dispersion(
        t(s, d, "embeddings"), "vec_id", "embedding", "label")
        .orderBy("label")), Sql(
      """WITH e AS (
        |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |cen AS (SELECT label, dim, avg(v) AS c FROM e GROUP BY 1, 2),
        |pv AS (SELECT e.label, e.vec_id, sum(e.v * cen.c) AS vc,
        |         sum(e.v * e.v) AS vv, sum(cen.c * cen.c) AS cc
        |       FROM e JOIN cen ON e.label = cen.label AND e.dim = cen.dim
        |       GROUP BY 1, 2),
        |cs AS (SELECT label, CASE WHEN vv > 0 AND cc > 0
        |         THEN vc / sqrt(vv * cc) END AS c FROM pv),
        |cn AS (SELECT label, count(*) AS n_vectors FROM embeddings
        |       GROUP BY 1)
        |SELECT cn.label, cn.n_vectors, count(cs.c) AS n_scored,
        |  round(avg(cs.c), 6) AS avg_cos, round(min(cs.c), 6) AS min_cos
        |FROM cn LEFT JOIN cs ON cn.label = cs.label
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // hard-negative mining: for each labeled query vector the 3
    // nearest DIFFERENT-label corpus vectors — broadcast queries,
    // codegen cosine, label filter as a join predicate (the
    // contrastive/reward-model training-pair op)
    QuerySpec("q_hard_negatives", ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          emb.where(col("vec_id") < 10), "vec_id", "embedding", "label",
          k = 3)
        .select(col("query_id"), col("id"), col("rank"),
          round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }), Sql(
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
        |         label AS ql
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS score
        |  FROM embeddings e
        |  JOIN q ON e.label <> q.ql AND e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, id) AS INTEGER) AS rank
        |  FROM s)
        |SELECT query_id, id, rank, round(score, 4) AS score
        |FROM r WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin)),

    // exact embedding covariance (upper triangle, 1-based dims):
    // ONE VecMomentsAgg scan — sufficient stats combine map-side and
    // merge as O(partitions × d²) metadata; the oracle replays the
    // explode + self-join spelling. PCA (jacobiEigen/project) consumes
    // this matrix driver-side (test-verified — eigensolves aren't SQL).
    QuerySpec("q_embedding_cov", ((s, d) =>
      EmbeddingStats.covarianceDf(t(s, d, "embeddings"), "embedding", 64)
        .orderBy("i", "j")), Sql(
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings)
        |-- + 0 folds IEEE -0.0 to 0.0: the Spark side rounds through
        |-- BigDecimal (no signed zero), so a tiny negative covariance
        |-- rounding to zero would otherwise print '-0.0' here only
        |SELECT a.i AS i, b.i AS j,
        |  round(avg(a.v * b.v) - avg(a.v) * avg(b.v), 6) + 0 AS cov
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY a.i, b.i
        |ORDER BY i, j""".stripMargin)),

    // diagonal-Mahalanobis embedding outliers: one VecMomentsAgg
    // training pass, then one native expression eval per row with
    // [μ, 1/σ²] riding the plan as a literal — the corpus never joins
    // for scoring; 4-dp round absorbs the engines' sum-order ulps in
    // the trained moments
    // same population mean/var formula shape as VecMomentsAgg-derived
    // moments; per-dim stats joined back by subscript, weight 0 for
    // zero-variance dims
    QuerySpec("q_embed_outliers", ((s, d) =>
      EmbeddingStats.diagMahalanobisScores(t(s, d, "embeddings"),
          "vec_id", "embedding", dim = 64)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
        .orderBy("vec_id")), Sql(
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |st AS (
        |  SELECT i, sum(v) / count(*) AS mu,
        |         sum(v * v) / count(*)
        |           - (sum(v) / count(*)) * (sum(v) / count(*)) AS var
        |  FROM x GROUP BY i),
        |sc AS (
        |  SELECT vec_id,
        |         sum((v - mu) * (v - mu) *
        |             (CASE WHEN var > 0 THEN 1.0 / var ELSE 0.0 END))
        |           AS score
        |  FROM x JOIN st USING (i) GROUP BY vec_id)
        |SELECT vec_id, round(score, 4) AS score
        |FROM sc ORDER BY vec_id""".stripMargin)),

    // Gonzalez greedy k-center: k−1 bounded argmax jobs, centers
    // ride the plan as literals (corpus never joins); dimension-order
    // distance accumulation makes every argmax bit-replayable by the
    // oracle's unrolled CTE chain
    QuerySpec("q_kcenter", ((s, d) =>
      Similarity.kCenters(t(s, d, "embeddings"), "vec_id", "embedding",
          dim = 64, k = 4, startId = 0L)
        .select(col("step"), col("center_id"),
          round(col("dist"), 6).as("dist"))
        .orderBy("step")), Sql(kCenterOracle(4))),

    // k-NN label-noise audit: points whose nearest neighbors
    // mostly carry a different label — exact audit-sample spelling
    // (all-pairs cosine + top-k window), require-capped; dimension-
    // order cosine makes the neighbor ranking bit-replayable
    // exact CosineSimilarity replica — dot/(√na·√nb + 1e-30), each sum
    // in dimension order — so the (cos DESC, nid) neighbor ranking is
    // bit-identical and the k-th neighbor never flips cross-engine
    QuerySpec("q_label_noise", ((s, d) =>
      Similarity.knnLabelDisagreement(
        t(s, d, "embeddings").where(col("vec_id") < 200),
        "vec_id", "embedding", "label", k = 5)), Sql(
      """WITH e AS (
        |  SELECT vec_id, embedding, CAST(label AS VARCHAR) AS l
        |  FROM embeddings WHERE vec_id < 200),
        |p AS (
        |  SELECT a.vec_id AS id, a.l AS label, b.l AS nlabel,
        |         b.vec_id AS nid,
        |         list_sum(list_transform(range(1, 65), i ->
        |           CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) *
        |           CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))) /
        |         (sqrt(list_sum(list_transform(range(1, 65), i ->
        |            CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) *
        |            CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)))) *
        |          sqrt(list_sum(list_transform(range(1, 65), i ->
        |            CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) *
        |            CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)))) +
        |          1e-30) AS cos
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT id, label, nlabel,
        |         row_number() OVER (PARTITION BY id
        |                            ORDER BY cos DESC, nid) AS rk
        |  FROM p)
        |SELECT id, label,
        |       CAST(sum(CASE WHEN nlabel <> label THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_diff,
        |       round(CAST(sum(CASE WHEN nlabel <> label THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / 5, 6) AS disagreement
        |FROM r WHERE rk <= 5 GROUP BY 1, 2 ORDER BY id""".stripMargin)),

    // effective rank (participation ratio) of the embedding
    // covariance: (Σλ)²/Σλ² without an eigensolver — the space-
    // collapse alarm, derived from covarianceDf's one-scan matrix
    // with decimal-exact sums over the rounded entries
    QuerySpec("q_effective_rank", ((s, d) =>
      EmbeddingStats.effectiveRank(t(s, d, "embeddings"),
        "embedding", 64)), Sql(
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |c AS (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(round(avg(a.v * b.v) - avg(a.v) * avg(b.v), 6) + 0
        |         AS DECIMAL(18,6)) AS cov
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY a.i, b.i),
        |t AS (
        |  SELECT
        |    sum(CASE WHEN i = j THEN cov
        |             ELSE CAST(0 AS DECIMAL(18,6)) END) AS tr,
        |    sum(cov * cov) AS sall,
        |    sum(CASE WHEN i = j THEN cov * cov
        |             ELSE CAST(0 AS DECIMAL(18,6))
        |                  * CAST(0 AS DECIMAL(18,6)) END) AS sdiag
        |  FROM c)
        |SELECT CAST(64 AS INTEGER) AS n_dims,
        |  round(CAST(tr AS DOUBLE), 6) AS trace,
        |  CASE WHEN 2.0 * CAST(sall AS DOUBLE) - CAST(sdiag AS DOUBLE) > 0
        |       THEN round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)
        |                  / (2.0 * CAST(sall AS DOUBLE)
        |                     - CAST(sdiag AS DOUBLE)), 6) END
        |    AS effective_rank
        |FROM t""".stripMargin)),

    // RBF-kernel MMD² between label groups 0 and 1: the
    // distribution-level embedding two-sample test (centroid drift is
    // blind to shape shifts); γ = 1/128 (exact binary literal, the
    // 1/(2d) heuristic), bounded-group pair joins
    QuerySpec("q_mmd", ((s, d) =>
      EmbeddingStats.mmd(t(s, d, "embeddings"), "embedding", "label",
        0, 1, 1.0 / 128)), Sql(
      """WITH a AS (
        |  SELECT embedding::DOUBLE[] AS x,
        |    list_inner_product(embedding::DOUBLE[],
        |                       embedding::DOUBLE[]) AS nx
        |  FROM embeddings WHERE label = 0 AND embedding IS NOT NULL),
        |b AS (
        |  SELECT embedding::DOUBLE[] AS y,
        |    list_inner_product(embedding::DOUBLE[],
        |                       embedding::DOUBLE[]) AS ny
        |  FROM embeddings WHERE label = 1 AND embedding IS NOT NULL),
        |kaa AS (
        |  SELECT avg(exp(-(1.0/128) * (p.nx + q.nx
        |    - 2.0 * list_inner_product(p.x, q.x)))) AS m FROM a p, a q),
        |kbb AS (
        |  SELECT avg(exp(-(1.0/128) * (p.ny + q.ny
        |    - 2.0 * list_inner_product(p.y, q.y)))) AS m FROM b p, b q),
        |kab AS (
        |  SELECT avg(exp(-(1.0/128) * (p.nx + q.ny
        |    - 2.0 * list_inner_product(p.x, q.y)))) AS m FROM a p, b q),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM a),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM b)
        |SELECT n_a, n_b,
        |  round(kaa.m + kbb.m - 2.0 * kab.m, 6) AS mmd2
        |FROM na, nb, kaa, kbb, kab""".stripMargin)),
  )
}
