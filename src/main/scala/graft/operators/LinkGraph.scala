package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Web-graph operators for corpus curation: outlink extraction from
  * crawled HTML, degree statistics, and PageRank centrality — the
  * graph-quality signal behind crawl-frontier prioritization and
  * domain-level quality weighting (CommonCrawl publishes exactly this
  * ranking; RefinedWeb/Gopher-class pipelines consume it as a filter
  * feature). Reference analogue: none (engine extension per the
  * builder's brief — the reference validates tabular metadata only).
  *
  * Scale shape, in order of the pipeline:
  *
  *   1. Extraction is a pure projection (codegen'd `regexp_extract_all`
  *      chain) — pages never shuffle; only the extracted (src, dst)
  *      long pairs enter an exchange.
  *   2. Degrees are two narrow hash aggregates over the 16-byte edge
  *      frame with map-side combine.
  *   3. PageRank iterations join the (id, rank) frame against a
  *      checkpoint-pinned edge frame pre-partitioned by `src`: the
  *      edge side (the big one — edges ≫ vertices on the web) is
  *      shuffled ONCE before the loop and reused every iteration; each
  *      round moves only the rank table plus the per-destination
  *      contribution partials. Dangling mass is a one-row aggregate
  *      broadcast into the update — never a driver collect. Lineage is
  *      truncated per round via `localCheckpoint` (the [[Dedup]]
  *      label-propagation convention) and — unlike a naive loop — each
  *      round RELEASES the previous round's checkpoint blocks once the
  *      new frame is materialized, so executor storage holds exactly
  *      one rank snapshot regardless of iteration count.
  */
object LinkGraph {

  /** Doc-to-doc edges from internal links in an HTML column: every
    * `href="doc://<id>"` becomes a (src, dst) pair; duplicates within
    * and across anchors collapse (an index page linking an article
    * five times is one edge). Pure scan→explode: the page bytes stay
    * in their input partition. */
  def extractDocLinks(df: DataFrame, idCol: String,
                      htmlCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("src"),
        explode(regexp_extract_all(col(htmlCol),
          lit("href=\"doc://(\\d+)\""), lit(1))).as("__m"))
      .select(col("src"), col("__m").cast("long").as("dst"))
      .distinct()

  /** (src, dst, anchor) triples from internal links: every
    * `<a href="doc://<id>">text</a>` yields its target and the visible
    * anchor text. Anchor text is the strongest free description of a
    * target page the web gives away (search engines index it; WebText
    * -class corpora filter on it), and aggregating it per target is the
    * classic reduce-side step. The extraction is scan-side: the full
    * tags explode FIRST (codegen'd `regexp_extract_all`), then the two
    * groups are re-extracted from each ≤tag-sized string — page bytes
    * never reach an exchange, and no higher-order-function lambdas run
    * per element. */
  def extractAnchors(df: DataFrame, idCol: String,
                     htmlCol: String): DataFrame = {
    val patt = "<a href=\"doc://(\\d+)\">([^<]*)</a>"
    df.select(col(idCol).cast("long").as("src"),
        explode(regexp_extract_all(col(htmlCol), lit(patt), lit(0)))
          .as("__tag"))
      .select(col("src"),
        regexp_extract(col("__tag"), patt, 1).cast("long").as("dst"),
        regexp_extract(col("__tag"), patt, 2).as("anchor"))
  }

  /** Per-target anchor profile over [[extractAnchors]] output:
    * `(dst, n_anchors, n_texts, n_srcs, top_anchor)` — inbound anchor
    * volume, text diversity, distinct linking documents, and the most
    * frequent anchor text (ties break lexicographically, so the result
    * is deterministic and SQL-replayable). Narrow shuffles only: the
    * (dst, anchor) counts and the distinct (dst, src) pairs both
    * combine map-side before their exchanges; the top-anchor window
    * runs over the already-aggregated per-text frame (bounded by
    * distinct texts per target, never raw anchor volume). */
  def anchorSummary(anchors: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE evaluation of the anchor-extraction tower: perText keyed
    // (dst, anchor) and perSrc keyed (dst, src) are different
    // exchanges, so feeding both straight from `anchors` ran the
    // upstream scan + regex extraction twice; a shared (dst, anchor,
    // src) pre-aggregate gives both towers the SAME first exchange
    // (ReusedExchange at runtime) and every later frame is bounded by
    // distinct triples, never raw anchor volume.
    val tri = anchors.groupBy(col("dst"), col("anchor"), col("src"))
      .agg(count(lit(1)).as("__n"))
    val perText = tri.groupBy(col("dst"), col("anchor"))
      .agg(sum(col("__n")).as("__n"))
    val w = Window.partitionBy(col("dst"))
    val summary = perText
      .withColumn("__rn", row_number().over(
        w.orderBy(col("__n").desc, col("anchor"))))
      .withColumn("n_anchors", sum(col("__n")).over(w))
      .withColumn("n_texts", count(lit(1)).over(w))
      .where(col("__rn") === 1)
      .select(col("dst"), col("n_anchors"), col("n_texts"),
        col("anchor").as("top_anchor"))
    val perSrc = tri.select(col("dst"), col("src")).distinct()
      .groupBy(col("dst")).agg(count(lit(1)).as("n_srcs"))
    summary.join(perSrc, Seq("dst"))
      .select(col("dst"), col("n_anchors"), col("n_texts"),
        col("n_srcs"), col("top_anchor"))
  }

  /** The vertex universe as a long `id` column: the caller-supplied
    * frame's first column, or (by default) every src/dst in the edge
    * frame — ONE spelling shared by [[degrees]]/[[pageRank]]/[[hits]]
    * so id coercion cannot silently diverge between the three. */
  private def vertexUniverse(vertices: Option[DataFrame],
                             e: DataFrame): DataFrame =
    vertices
      .map(v => v.select(col(v.columns.head).cast("long").as("id")))
      .getOrElse(e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())

  /** Per-vertex (id, out_degree, in_degree) over an edge frame, with
    * an optional vertex universe so isolated documents appear with
    * (0, 0) instead of vanishing — corpus accounting must not silently
    * drop the unlinked tail. Two map-side-combined aggregates plus
    * outer joins on 8-byte keys. */
  def degrees(edges: DataFrame, vertices: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))
    val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_degree"))
    val verts = vertexUniverse(vertices, e)
    verts.join(out, Seq("id"), "left").join(in, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** PageRank with uniform teleport and dangling-mass redistribution:
    * r(v) = (1-d)/N + d·(Σ_{u→v} r(u)/od(u) + m/N), m = Σ_{dangling} r.
    * Fixed `iterations` (declarative replay — the oracle spelling);
    * production convergence is |Δr|∞ < ε, which callers can layer on
    * top by comparing successive frames.
    *
    * Returns (id, rank). The result is localCheckpoint-backed; call
    * [[Packing.releaseOffsets]] on it once consumed (the
    * [[Packing.globalOffsets]] ownership convention). Every
    * INTERMEDIATE checkpoint — edge shares, vertex flags, prior rank
    * rounds — is released before return.
    *
    * `vertices` (single-column frame) fixes the vertex universe;
    * otherwise it is derived from the edges. Self-loops are legal and
    * duplicate edges collapse. */
  def pageRank(edges: DataFrame, iterations: Int = 4,
               damping: Double = 0.85,
               vertices: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
    // edge frame pinned for the loop: pre-partitioned by src so every
    // iteration's contribution join reuses ONE edge shuffle; carries
    // (src, dst, od) — 24 bytes/edge, never page payloads
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("__od"))
    val shares = e.join(outDeg, Seq("src"))
      .select(col("src"), col("dst"), col("__od").cast("double").as("__od"))
      .repartition(col("src"))
      .localCheckpoint()
    // vertex frame with the dangling flag (no out-edges)
    val vertIds = vertexUniverse(vertices, e)
    val verts = vertIds
      .join(outDeg.select(col("src").as("id"), col("__od")), Seq("id"), "left")
      .select(col("id"), col("__od").isNull.as("__dangling"))
      .localCheckpoint()
    val n = verts.count().toDouble
    require(n > 0, "pageRank: empty vertex set")

    // the uniform init is a pure projection of the pinned vertex frame
    // — checkpointing it only added a materialization job (the `eq`
    // guard below keeps release from unpinning verts' own blocks)
    val ranks0 = verts.select(col("id"), lit(1.0 / n).as("rank"))
    var ranks = ranks0
    var iter = 0
    while (iter < iterations) {
      // one action per round: dangling mass and contributions both
      // derive from `ranks` inside the SAME plan — the 1-row mass
      // aggregate broadcasts into the update, no driver collect
      val mass = ranks
        .join(verts.where(col("__dangling")), Seq("id"), "left_semi")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__m"))
      val contribs = shares
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("__od")).as("__c"))
      val next = verts.select(col("id"))
        .join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(mass))
        .select(col("id"),
          (lit((1.0 - damping)) / lit(n) + lit(damping) *
            (coalesce(col("__c"), lit(0.0)) + col("__m") / lit(n)))
            .as("rank"))
        .localCheckpoint()
      // next is materialized; drop the prior round (never the init
      // projection — releasing it would unpin verts)
      if (!(ranks eq ranks0)) Packing.releaseOffsets(ranks)
      ranks = next
      iter += 1
    }
    // iterations == 0: pin the init projection before its parents go
    if (ranks eq ranks0) ranks = ranks.localCheckpoint()
    Packing.releaseOffsets(shares)
    Packing.releaseOffsets(verts)
    ranks
  }

  /** HITS hubs and authorities (Kleinberg) with L1 normalization after
    * each half-step: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v),
    * each rescaled to sum 1 — the sum norm (not the classic L2) keeps
    * every number a ratio of sums that both engines compute identically
    * from the integer first step, so the oracle can replay all
    * iterations as chained CTEs (the [[pageRank]] convention; with
    * hub₀ = 1 the first authority pass is exactly the in-degree).
    *
    * Scale shape: the deduped edge frame is shuffled TWICE up front —
    * once by src (the authority join side) and once by dst (the hub
    * join side) — then checkpoint-pinned, so each iteration moves only
    * the (id, score) frames plus per-key partials; the normalizer is a
    * 1-row aggregate broadcast into the rescale, never a driver
    * collect. Returns (id, hub, authority), localCheckpoint-backed —
    * release via [[Packing.releaseOffsets]] once consumed. */
  def hits(edges: DataFrame, iterations: Int = 2,
           vertices: Option[DataFrame] = None): DataFrame = {
    require(iterations > 0, "hits: iterations must be positive")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
    val eBySrc = e.repartition(col("src")).localCheckpoint()
    val eByDst = e.repartition(col("dst")).localCheckpoint()
    val vertIds = vertexUniverse(vertices, e).localCheckpoint()
    def l1(df: DataFrame, c: String): DataFrame = {
      val s = df.agg(sum(col(c)).as("__s"))
      df.crossJoin(broadcast(s))
        .select(col("id"), when(col("__s") > 0, col(c) / col("__s"))
          .otherwise(lit(0.0)).as(c))
    }
    // the init scores are pure projections of the already-pinned
    // vertex frame: checkpointing them only added two materialization
    // jobs (and releasing an un-checkpointed projection would unpin
    // vertIds' own blocks — hence the `eq` guards below)
    val hubs0 = vertIds.select(col("id"), lit(1.0).as("hub"))
    val auths0 = vertIds.select(col("id"), lit(0.0).as("authority"))
    var hubs = hubs0
    var auths = auths0
    var iter = 0
    while (iter < iterations) {
      val rawAuth = eBySrc
        .join(hubs.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("__a"))
      val nextAuth = l1(vertIds.join(rawAuth, Seq("id"), "left")
          .select(col("id"), coalesce(col("__a"), lit(0.0)).as("authority")),
        "authority").localCheckpoint()
      if (!(auths eq auths0)) Packing.releaseOffsets(auths)
      auths = nextAuth
      val rawHub = eByDst
        .join(auths.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("authority")).as("__h"))
      val nextHub = l1(vertIds.join(rawHub, Seq("id"), "left")
          .select(col("id"), coalesce(col("__h"), lit(0.0)).as("hub")),
        "hub").localCheckpoint()
      if (!(hubs eq hubs0)) Packing.releaseOffsets(hubs)
      hubs = nextHub
      iter += 1
    }
    val outF = hubs.join(auths, Seq("id")).localCheckpoint()
    Seq(eBySrc, eByDst, vertIds, hubs, auths)
      .foreach(Packing.releaseOffsets)
    outF
  }

  /** Power-of-two histogram of a degree column: bucket = ⌊log₂ d⌋ for
    * d > 0 (bucket b holds 2^b ≤ d < 2^(b+1)), −1 for isolated
    * vertices — the one-glance shape check for web-graph health (a
    * crawl whose in-degree tail is missing, or whose bucket-0 mass
    * exploded, drifted). The `+1e-12` guard makes exact powers of two
    * floor identically in any engine whose ln is within ~1e-13 of
    * correctly rounded, while staying below the gap to the next
    * integer for any degree under ~1.4×10¹² (1/(d·ln2) > 1e-12), so
    * the bucket contract 2^b ≤ d < 2^(b+1) holds for every realizable
    * degree — a larger guard misbuckets 2^b − 1 hubs above ~1.5e9.
    * One narrow aggregate. */
  def degreeDistribution(degrees: DataFrame, degCol: String): DataFrame =
    degrees.select(
        when(col(degCol) <= 0, lit(-1L))
          .otherwise(floor(
            log(col(degCol).cast("double")) / log(lit(2.0)) + 1e-12))
          .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vertices"))
      .orderBy("bucket")

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED simple graph (direction dropped, self-loops and
    * duplicate edges collapsed): c(v) = 2·T(v) / (deg(v)·(deg(v)−1)),
    * 0 for degree < 2. The community-density readout [[pageRank]]
    * can't see — a link farm has high rank flow but near-zero
    * triangle closure, organic site clusters the reverse.
    *
    * Scale shape: the classic two-join triangle enumeration over
    * CANONICAL (u < v) edges — ordering every triangle a < b < c so
    * each is found exactly once: wedges join on the middle vertex,
    * close on (a, c). Join fan-out is Σ deg² (the wedge count) — the
    * standard bound; a celebrity vertex is a [[SkewJoin]]-class hazard
    * and the degree frame IS the audit for that. Per-node counts
    * explode each triangle to its three corners (narrow longs). */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct()
    val wedges = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b"), col("v").as("c")), "b")
    val tri = wedges.join(
      e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
      .orderBy(col("node"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the SYMMETRIZED undirected edge list —
    * positive = hubs link hubs (social-graph shape), negative = hubs
    * link leaves (web/star shape); a crawl whose assortativity flips
    * between snapshots changed its discovery policy, not its content.
    * Computed from EXACT integer sufficient sums (n, Σx, Σy, Σxy,
    * Σx², Σy² — the corrMatrix discipline, order-independent, so the
    * SQL replica is bit-compatible rather than trusting two engines'
    * streaming-corr implementations to agree). Returns one row
    * (n_edges, assortativity); NULL for a degree-regular graph (zero
    * variance). */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct()
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // symmetrize: each canonical edge contributes (du, dv) AND (dv, du)
    val pairs = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(explode(array(
        struct(col("du").as("x"), col("dv").as("y")),
        struct(col("dv").as("x"), col("du").as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val st = pairs.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val cov = st("n") * st("sxy") - st("sx") * st("sy")
    val vx = st("n") * st("sxx") - st("sx") * st("sx")
    val vy = st("n") * st("syy") - st("sy") * st("sy")
    st.select((col("n") / 2).cast("long").as("n_edges"),
      when(vx <= 0 || vy <= 0, lit(null: java.lang.Double))
        .otherwise(round(cov.cast("double") /
          sqrt(vx.cast("double") * vy.cast("double")), 6))
        .as("assortativity"))
  }
}
