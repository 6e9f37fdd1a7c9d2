package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VecMomentsAgg

/** Second-order statistics and PCA over an embedding column — the
  * linear-algebra tier of the vector pipeline: exact covariance /
  * correlation of the corpus embedding distribution (the
  * representation-health dashboard: collapsed dimensions, dominant
  * directions, inter-feature redundancy), top principal components
  * for whitening / dimensionality reduction before ANN or SemDeDup,
  * and the projection back onto the corpus. Reference analogue: none
  * (engine extension per the builder's brief).
  *
  * Scale shape: the corpus is touched ONCE by [[VecMomentsAgg]] —
  * sufficient statistics (d sums + d(d+1)/2 cross products) combine
  * map-side and merge as O(partitions × d²) metadata, so the 100 TB
  * covariance costs one scan and a ~33 KB-per-partition reduce. The
  * eigensolve runs driver-side on the d×d matrix (metadata-sized, a
  * deterministic cyclic Jacobi — no RNG, no convergence lottery), and
  * [[project]] applies the component matrix as a literal in-scan HOF
  * fold: zero exchanges end to end.
  */
object EmbeddingStats {

  /** Parsed output of one [[VecMomentsAgg]] pass. */
  final case class Moments(n: Long, skipped: Long,
                           mean: Array[Double], cov: Array[Array[Double]])

  /** One-pass exact moments: population mean and covariance of the
    * `dim`-length vector column. NULL / wrong-length / null-element
    * vectors are counted as `skipped`, never silently dropped. */
  def moments(df: DataFrame, vecCol: String, dim: Int): Moments = {
    val row = df.agg(
      VecMomentsAgg.vecMoments(col(vecCol), dim).as("m")).head()
    val a = row.getSeq[Double](0).toArray
    val n = a(0).toLong
    val skipped = a(1).toLong
    val sums = java.util.Arrays.copyOfRange(a, 2, 2 + dim)
    val prods = java.util.Arrays.copyOfRange(a, 2 + dim, a.length)
    require(n > 0, s"no valid $dim-dim vectors (skipped=$skipped)")
    val mean = sums.map(_ / n)
    val cov = Array.ofDim[Double](dim, dim)
    var i = 0; var k = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = prods(k) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; k += 1
      }
      i += 1
    }
    Moments(n, skipped, mean, cov)
  }

  /** Upper-triangle covariance entries as a frame `(i, j, cov)` with
    * 1-based dimension indices (the SQL `generate_subscripts`
    * convention) — the oracle-facing spelling of [[moments]], rounded
    * to 6 dp (HALF_UP, the SQL `round` rule). */
  def covarianceDf(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val spark = df.sparkSession
    val m = moments(df, vecCol, dim)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = for {
      i <- 0 until dim
      j <- i until dim
    } yield Row(i + 1, j + 1, r6(m.cov(i)(j)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("i", IntegerType, nullable = false),
        StructField("j", IntegerType, nullable = false),
        StructField("cov", DoubleType, nullable = false))))
  }

  /** Deterministic cyclic Jacobi eigensolver for a symmetric matrix —
    * driver-side on the metadata-sized d×d covariance. Returns
    * (eigenvalues, eigenvectors-as-rows) sorted by eigenvalue
    * descending, each vector sign-fixed so its largest-magnitude
    * component is positive (a stable orientation — eigenvectors are
    * only defined up to sign). Cyclic sweeps (fixed pivot order, no
    * max-hunt) make the rotation sequence — and therefore the
    * last-ulp of every output — a pure function of the input. */
  def jacobiEigen(a0: Array[Array[Double]], maxSweeps: Int = 64,
                  tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (sweep < maxSweeps && off > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > tol / (d * d)) {
            // Jacobi rotation zeroing a(p)(q)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 // theta == 0 → t = 1
                case x => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val values = order.map(i => a(i)(i)).toArray
    val vectors = order.map { i =>
      val col = Array.tabulate(d)(k => v(k)(i))
      // sign fix: largest-|component| positive (ties: first index wins)
      val m = col.indices.maxBy(k => (math.abs(col(k)), -k))
      if (col(m) < 0) col.map(x => -x) else col
    }.toArray
    (values, vectors)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** Top-k principal components of the embedding distribution: ONE
    * [[VecMomentsAgg]] scan + a driver-side [[jacobiEigen]]. Returns
    * (eigenvalues desc, components-as-rows, moments). */
  def pca(df: DataFrame, vecCol: String, dim: Int, k: Int)
      : (Array[Double], Array[Array[Double]], Moments) = {
    require(k > 0 && k <= dim, s"k=$k out of range for dim=$dim")
    val m = moments(df, vecCol, dim)
    val (values, vectors) = jacobiEigen(m.cov)
    (values.take(k), vectors.take(k), m)
  }

  /** Project the corpus onto literal components (rows of the PCA
    * basis), optionally mean-centering first: appends `outCol` as an
    * `array<double>` of length k. The component matrix rides the plan
    * as a literal and each projection is an in-row zip_with/aggregate
    * fold — zero exchanges, the vectors never move. */
  def project(df: DataFrame, vecCol: String, components: Array[Array[Double]],
              mean: Option[Array[Double]] = None,
              outCol: String = "projection"): DataFrame = {
    val vec = col(vecCol)
    val centered = mean match {
      case Some(mu) =>
        zip_with(vec, typedlit(mu.toSeq), (x, m) => x.cast("double") - m)
      case None => transform(vec, x => x.cast("double"))
    }
    val proj = array(components.map { comp =>
      aggregate(
        zip_with(centered, typedlit(comp.toSeq), (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
    }.toIndexedSeq: _*)
    df.withColumn(outCol, proj)
  }

  /** Diagonal-covariance Mahalanobis outlier scores: per-dim
    * population mean/variance from ONE [[VecMomentsAgg]] pass, then
    * score = Σᵢ (xᵢ−μᵢ)²/σᵢ² as a single native
    * [[graft.functions.DiagMahalanobis]] evaluation per row with the
    * trained [μ, 1/σ²] riding the plan as a literal — the corpus never
    * joins or shuffles for scoring, the statistical complement to
    * [[graft.operators.EmbeddingQC]]'s structural rules (a vector can
    * be perfectly well-formed and still sit 40σ from the population —
    * a wrong-model or wrong-preprocessing batch looks exactly like
    * that). Zero-variance dimensions carry no signal and get weight 0
    * (documented, not silent: they're visible in [[covarianceDf]]).
    * Under normality scores ≈ χ²(effective dims), so a threshold like
    * dim + 4·sqrt(2·dim) is a principled gate. */
  def diagMahalanobisScores(df: DataFrame, idCol: String, vecCol: String,
                            dim: Int): DataFrame = {
    val m = moments(df, vecCol, dim)
    val weights = (0 until dim).map { i =>
      val v = m.cov(i)(i)
      if (v > 0.0) 1.0 / v else 0.0
    }
    df.select(col(idCol),
      graft.functions.VectorExpressions.diagMahalanobis(
        col(vecCol), m.mean.toIndexedSeq, weights).as("score"))
  }

  /** Pairwise Fisher separability of label clouds in embedding space:
    * J(a, b) = ‖μ_a − μ_b‖² / (σ²_a + σ²_b) with σ² the trace of the
    * per-class (population) covariance — the two-class Fisher
    * criterion under the isotropic simplification, and the
    * label-quality readout [[graft.operators.Similarity.simplifiedSilhouette]]
    * gives for CLUSTERS: J ≫ 1 means the labels are linearly
    * separable in this embedding; J ≈ 0 for a pair means the
    * embedding cannot tell those classes apart (retraining the
    * classifier won't fix what the representation can't see). One
    * posexplode aggregate to O(labels × dim) sufficient sums (sum,
    * sum-of-squares — vectors never shuffle whole); pair arithmetic
    * driver-side in sorted order. Returns
    * (label_a < label_b, n_a, n_b, dist2, fisher). */
  def fisherSeparability(df: DataFrame, labelCol: String,
                         vecCol: String): DataFrame = {
    val rows = df.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("__l"),
        posexplode(col(vecCol)).as(Seq("__p", "__x")))
      .groupBy(col("__l"), col("__p"))
      .agg(sum(col("__x").cast("double")).as("__s"),
        sum(col("__x").cast("double") * col("__x")).as("__ss"),
        count(lit(1)).as("__c"))
      .collect()
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    if (rows.isEmpty)
      return Seq.empty[(String, String, Long, Long, Double, Option[Double])]
        .toDF("label_a", "label_b", "n_a", "n_b", "dist2", "fisher")
    val dim = rows.map(_.getInt(1)).max + 1
    val byL = rows.groupBy(_.getString(0)).map { case (l, rs) =>
      val mean = new Array[Double](dim)
      val ssum = new Array[Double](dim)
      var n = 0L
      rs.foreach { r =>
        mean(r.getInt(1)) = r.getDouble(2) / r.getLong(4)
        ssum(r.getInt(1)) = r.getDouble(3)
        n = math.max(n, r.getLong(4))
      }
      // population variance per dim: E[x²] − m², traced over dims
      val trace = (0 until dim).iterator.map { i =>
        ssum(i) / n - mean(i) * mean(i) }.sum
      l -> (mean, trace, n)
    }
    val labels = byL.keys.toSeq.sorted
    (for {
      i <- labels.indices; j <- (i + 1) until labels.length
    } yield {
      val (ma, ta, na) = byL(labels(i))
      val (mb, tb, nb) = byL(labels(j))
      var d2 = 0.0; var k = 0
      while (k < dim) {
        val d = ma(k) - mb(k); d2 += d * d; k += 1
      }
      val denom = ta + tb
      (labels(i), labels(j), na, nb, r6(d2),
        if (denom > 0.0) Option(r6(d2 / denom)) else None)
    }).toDF("label_a", "label_b", "n_a", "n_b", "dist2", "fisher")
  }

  /** Per-group embedding centroids against the corpus centroid:
    * (group, n_vecs, cos_to_global) — the semantic-geometry readout of
    * the mixture ("which label/source occupies its own region of
    * embedding space vs sitting on top of the corpus mean"): a group
    * whose centroid-cosine to the global centroid drops across
    * snapshots drifted semantically even if its volume and token stats
    * held still. One posexplode aggregate to O(groups × dim) partial
    * sums (map-side combined — vectors never shuffle whole); the
    * global centroid is the column-sum of the same frame, and the
    * cosines evaluate driver-side in dimension order (the
    * [[graft.operators.Similarity]] cosLocal formula, +1e-30 guard).
    * NULL groups fold to "<null>"; NULL vectors are excluded. */
  def groupCentroids(df: DataFrame, groupCol: String,
                     vecCol: String): DataFrame = {
    val rows = df.where(col(vecCol).isNotNull)
      .select(coalesce(col(groupCol).cast("string"), lit("<null>"))
        .as("__g"), posexplode(col(vecCol)).as(Seq("__p", "__x")))
      .groupBy(col("__g"), col("__p"))
      .agg(sum(col("__x").cast("double")).as("__s"),
        count(lit(1)).as("__c"))
      .collect()
    val spark = df.sparkSession
    import spark.implicits._
    if (rows.isEmpty)
      return Seq.empty[(String, Long, Double)]
        .toDF(groupCol, "n_vecs", "cos_to_global")
    val byGroup = rows.groupBy(_.getString(0))
    val dim = rows.map(_.getInt(1)).max + 1
    def centroid(rs: Array[org.apache.spark.sql.Row]): (Array[Double], Long) = {
      val v = new Array[Double](dim)
      var n = 0L
      rs.foreach { r =>
        v(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
        n = math.max(n, r.getLong(3))
      }
      (v, n)
    }
    // global centroid from the SAME partial sums (dimension-wise)
    val global = new Array[Double](dim)
    val gCount = new Array[Long](dim)
    rows.sortBy(r => (r.getInt(1), r.getString(0))).foreach { r =>
      global(r.getInt(1)) += r.getDouble(2)
      gCount(r.getInt(1)) += r.getLong(3)
    }
    (0 until dim).foreach(i =>
      if (gCount(i) > 0) global(i) = global(i) / gCount(i))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb) + 1e-30)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    byGroup.toSeq.sortBy(_._1).map { case (g, rs) =>
      val (c, n) = centroid(rs.toArray)
      (g, n, r6(cos(c, global)))
    }.toDF(groupCol, "n_vecs", "cos_to_global")
  }

  /** Effective rank (participation ratio) of the embedding covariance:
    * PR = tr(C)² / tr(C²) = (Σλ)² / Σλ² — the eigensolver-free
    * intrinsic-dimensionality readout (PR = d for isotropic spread,
    * PR → 1 when one direction dominates, i.e. the embedding space
    * has COLLAPSED — the one-number alarm for a degenerate encoder
    * before any ANN/dedup tier trusts the vectors). tr(C²) needs only
    * the matrix ENTRIES (Σᵢⱼ Cᵢⱼ², symmetry doubling the off-diagonal
    * triangle), so the whole metric derives from [[covarianceDf]]'s
    * ONE VecMomentsAgg scan.
    *
    * Exactness: the 6-dp-rounded entries (already hash-verified
    * against SQL by the covariance oracle) are cast to decimal(38,6),
    * summed exactly (no FP merge-order dependence over the d² frame),
    * and PR derives through one fixed double expression — bit-exact
    * in SQL. Returns one row: (n_dims, trace, effective_rank); NULL
    * rank for an all-zero matrix. */
  def effectiveRank(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    // decimal(18,6): the entry-squared products stay decimal(37,12) —
    // EXACT; at (38,6) Spark's precision-loss rule would truncate the
    // ~1e-7 squares to scale 6, silently zeroing tr(C²)
    val dec = "decimal(18,6)"
    val c = covarianceDf(df, vecCol, dim)
    val e = col("cov").cast(dec)
    val zero = lit(0).cast(dec) * lit(0).cast(dec)
    c.agg(
        sum(when(col("i") === col("j"), e).otherwise(lit(0).cast(dec)))
          .as("__tr"),
        sum(e * e).as("__sall"),
        sum(when(col("i") === col("j"), e * e).otherwise(zero))
          .as("__sdiag"))
      .select(lit(dim).as("n_dims"),
        round(col("__tr").cast("double"), 6).as("trace"),
        // tr(C²) = 2·Σ_triangle c² − Σ_diag c² (symmetry): the ×2
        // applied AFTER the exact decimal sums, in one double op
        when(lit(2.0) * col("__sall").cast("double") -
            col("__sdiag").cast("double") > 0,
          round(col("__tr").cast("double") * col("__tr").cast("double") /
            (lit(2.0) * col("__sall").cast("double") -
              col("__sdiag").cast("double")), 6)).as("effective_rank"))
  }

  /** Squared maximum mean discrepancy (biased V-statistic) between
    * two labeled vector groups under an RBF kernel — the DISTRIBUTION-
    * level two-sample test for embedding drift ([[groupCentroids]]
    * compares means; MMD sees variance/shape shifts a centroid test
    * is blind to): MMD² = E[k(x,x′)] + E[k(y,y′)] − 2E[k(x,y)] with
    * k(x,y) = exp(−γ‖x−y‖²), ‖x−y‖² spelled |x|²+|y|²−2⟨x,y⟩ with
    * per-row norms precomputed (one native dot per pair, not three).
    * Pass γ as an exactly-representable literal (e.g. 1/128 for d=64:
    * the 1/(2d) heuristic) so the oracle shares it bit-for-bit.
    *
    * Contract: the kernel means are O(n²) pair joins — run on BOUNDED
    * group samples (the [[graft.operators.Similarity]] sampling tier
    * feeds this); the linear-time MMD estimator is the 10^9-vector
    * path (pair the stream, average k(x₂ᵢ,x₂ᵢ₊₁) terms — one pass,
    * no join). Returns one row: (n_a, n_b, mmd2); NULL mmd2 when
    * either group is empty. */
  def mmd(df: DataFrame, vecCol: String, labelCol: String,
          labelA: Int, labelB: Int, gamma: Double): DataFrame = {
    import graft.functions.VectorExpressions.dot
    require(gamma > 0, "mmd: gamma must be positive")
    def side(lbl: Int, v: String, n: String): DataFrame =
      df.where(col(labelCol) === lbl && col(vecCol).isNotNull)
        .select(col(vecCol).as(v))
        .withColumn(n, dot(col(v), col(v)))
    def kmean(l: DataFrame, r: DataFrame, out: String): DataFrame =
      l.crossJoin(r).agg(avg(
        exp(lit(-gamma) * (col("__nx") + col("__ny") -
          lit(2.0) * dot(col("__x"), col("__y"))))).as(out))
    val a = side(labelA, "__x", "__nx")
    val b = side(labelB, "__y", "__ny")
    val a2 = a.select(col("__x").as("__y"), col("__nx").as("__ny"))
    val b2 = b.select(col("__y").as("__x"), col("__ny").as("__nx"))
    a.agg(count(lit(1)).as("n_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b")))
      .crossJoin(kmean(a, a2, "__kaa"))
      .crossJoin(kmean(b2, b, "__kbb"))
      .crossJoin(kmean(a, b, "__kab"))
      .select(col("n_a"), col("n_b"),
        round(col("__kaa") + col("__kbb") - lit(2.0) * col("__kab"), 6)
          .as("mmd2"))
  }
}
