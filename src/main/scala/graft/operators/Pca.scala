package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA over an embedding column — the dimensionality-reduction step the
  * similarity toolkit was missing (PQ quantizes, IVF buckets; PCA is how
  * a pipeline WHITENS or compresses embeddings before either, and the
  * standard pre-rotation OPQ-style quantizers apply). Spark-first split
  * of the work by where it belongs:
  *
  *  - the DATA-SCALED part is ONE pass: per-partition accumulation of
  *    (n, Σx, Σxxᵀ) — d(d+1) doubles of state for d-dim vectors, a
  *    map-side combine with no shuffle at all (partials collect to the
  *    driver; 32 partitions × ~33 KB for d=64). The table is never
  *    rescanned per component or per iteration.
  *  - the EIGENSOLVE runs on the DRIVER over the d×d covariance (KB —
  *    the §3 control-plane exception, the IVF-centroid discipline):
  *    deterministic power iteration with deflation (seeded init, fixed
  *    iteration count, Gram-Schmidt re-orthogonalization per step).
  *  - PROJECTION goes back IN-PLAN as a pure Catalyst expression: the
  *    k component vectors become array literals broadcast inside the
  *    plan, each output coordinate one `aggregate(zip_with(...))` dot —
  *    codegen'd, no UDF, no shuffle.
  */
object Pca {

  final case class Model(mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double]) {
    def k: Int = components.length
    def d: Int = mean.length
  }

  /** One-pass RAW MOMENTS (n, Σx, Σxxᵀ flattened row-major) of `embCol`
    * — the sufficient statistics mean/covariance derive from. These are
    * ADDITIVE (and subtractive), which is what makes the change-feed
    * maintenance in [[MomentsDelta]] exact-in-structure: a batch's
    * moments add, a removed batch's subtract, and the table is never
    * rescanned. Map-side combine, no shuffle; partials are KB and
    * collect to the driver. `w` weighs each row — ±1 over a change batch
    * is the signed fold; a weight of 1 multiplies exactly, so it
    * reproduces the unweighted sums bit-for-bit. (0, [], []) when no row
    * carries an embedding. */
  def rawMoments(emb: DataFrame, embCol: String = "embedding",
      w: Column = lit(1L)): (Long, Array[Double], Array[Double]) = {
    val sp = emb.sparkSession
    import sp.implicits._
    val parts = emb
      .filter(col(embCol).isNotNull)
      .select(transform(col(embCol), v => v.cast("double")).as("v"),
        w.cast("long").as("w"))
      .as[(Array[Double], Long)]
      .mapPartitions { it =>
        var n = 0L; var s: Array[Double] = null; var ss: Array[Double] = null
        it.foreach { case (x, wt) =>
          if (s == null) { s = new Array[Double](x.length)
            ss = new Array[Double](x.length * x.length) }
          var i = 0
          while (i < x.length) {
            val wx = wt * x(i)
            s(i) += wx
            var j = 0
            val base = i * x.length
            while (j < x.length) { ss(base + j) += wx * x(j); j += 1 }
            i += 1
          }
          n += wt
        }
        if (s == null) Iterator.empty
        else Iterator.single((n, s.toSeq, ss.toSeq))
      }
      .collect() // ≤ #partitions rows of d(d+1)+1 doubles — KB-scale
    val d = parts.headOption.fold(0)(_._2.size)
    val (n, s, ss) = (new Array[Long](1), new Array[Double](d),
      new Array[Double](d * d))
    parts.foreach { case (pn, ps, pss) =>
      n(0) += pn
      var i = 0
      while (i < d) { s(i) += ps(i); i += 1 }
      i = 0
      while (i < d * d) { ss(i) += pss(i); i += 1 }
    }
    (n(0), s, ss)
  }

  /** Derive (mean, biased covariance) from raw moments. */
  def momentsToMeanCov(n: Long, s: Array[Double], ss: Array[Double])
      : (Array[Double], Array[Array[Double]]) = {
    require(n > 0, "empty moment state")
    val d = s.length
    val nn = n.toDouble
    val mean = s.map(_ / nn)
    val cov = Array.tabulate(d, d)((i, j) =>
      ss(i * d + j) / nn - mean(i) * mean(j))
    (mean, cov)
  }

  /** One-pass (mean, covariance, n) of `embCol` (array<float/double>).
    * Covariance is the biased (1/n) form — the eigen-spectrum scale the
    * variance checks use. */
  def covariance(emb: DataFrame, embCol: String = "embedding")
      : (Array[Double], Array[Array[Double]], Long) = {
    val (n, s, ss) = rawMoments(emb, embCol)
    val (mean, cov) = momentsToMeanCov(n, s, ss)
    (mean, cov, n)
  }

  /** Top-`k` principal components by deterministic power iteration with
    * deflation (driver-side over the d×d covariance). */
  def fit(emb: DataFrame, k: Int, iters: Int = 100,
      embCol: String = "embedding"): Model = {
    val (mean, cov, _) = covariance(emb, embCol)
    fitFromCov(mean, cov, k, iters)
  }

  /** The eigensolve alone — (mean, covariance) in, model out; the entry
    * a MAINTAINED moment state refreshes its model through without ever
    * rescanning the data ([[MomentsDelta.model]]). */
  def fitFromCov(mean: Array[Double], cov: Array[Array[Double]], k: Int,
      iters: Int = 100): Model = {
    val d = mean.length
    require(k >= 1 && k <= d, s"k=$k out of range for d=$d")
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += cov(i)(j) * v(j); j += 1 }
        s
      }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val comps = new Array[Array[Double]](k)
    val eigs = new Array[Double](k)
    val rnd = new scala.util.Random(42)
    for (c <- 0 until k) {
      var v = Array.fill(d)(rnd.nextDouble() - 0.5)
      var it = 0
      while (it < iters) {
        v = matVec(v)
        // deflate: project out the components already found
        var p = 0
        while (p < c) {
          val pr = dot(v, comps(p))
          var i = 0
          while (i < d) { v(i) -= pr * comps(p)(i); i += 1 }
          p += 1
        }
        val nrm = math.sqrt(dot(v, v))
        require(nrm > 0, s"power iteration collapsed at component $c")
        v = v.map(_ / nrm)
        it += 1
      }
      comps(c) = v
      eigs(c) = dot(v, matVec(v))
    }
    // NEAR-DEGENERATE spectra (λ_c ≈ λ_{c+1}) separate at rate
    // (λ_{c+1}/λ_c)^iters — power iteration can return two such
    // components slightly rotated within their shared subspace, i.e.
    // marginally OUT of eigenvalue order. The returned contract is
    // "descending", so sort the pairs by Rayleigh quotient: the
    // projected variance of component c IS vᵀCv, making the ordering
    // exact for the emitted model (1.2e-3 relative inversion observed
    // at 50 vectors / 64 dims before this sort).
    val order = eigs.zipWithIndex.sortBy(-_._1).map(_._2)
    Model(mean, order.map(comps), order.map(eigs))
  }

  /** In-plan projection: `embCol` → `outCol` as the k-dim array of
    * centered dots with the model's components — pure Catalyst
    * (array-literal broadcast + aggregate/zip_with dots), codegen'd. */
  def projectCol(embCol: Column, model: Model): Column = {
    val meanLit = typedLit(model.mean.toSeq)
    val centered = zip_with(transform(embCol, v => v.cast("double")),
      meanLit, (a, b) => a - b)
    val dots = model.components.map { comp =>
      aggregate(zip_with(centered, typedLit(comp.toSeq), (a, b) => a * b),
        lit(0.0), _ + _)
    }
    array(dots.toIndexedSeq: _*)
  }

  /** Dataset-level convenience: (vec_id, projected k-dim vector). */
  def project(emb: DataFrame, model: Model,
      embCol: String = "embedding", outCol: String = "proj"): DataFrame =
    emb.withColumn(outCol, projectCol(col(embCol), model))

  /** Driver-gate entry ([rows] — float eigensolves are not
    * SQL-oracle-able; PcaSpec carries the correctness proof and
    * [[qEmbPcaCheck]] puts the projection's data-grounded invariants
    * under the hard oracle): fit the top-8 components of the embeddings
    * table (one covariance pass + driver eigensolve) and project every
    * vector in-plan. Output EXPLODES to scalar (vec_id, dim, value)
    * rows — the driver's rows-check sorts and hashes scalar cells, so an
    * array column would crash it (the r11 gate lesson) — with 6-dp
    * rounding so the hash stays stable across codegen fusion orders. */
  def qEmbPca(spark: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val model = fit(emb, k = 8)
    project(emb, model)
      .select(col("vec_id"),
        posexplode(transform(col("proj"), v => round(v, 6)))
          .as(Seq("dim", "value")))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** ORACLE-ABLE PCA check (the q_doc_len_check structure: engine-
    * specific ESTIMATES stay [rows], but the math they must satisfy is a
    * theorem both engines verify): Spark computes three data-grounded
    * truth relations over its OWN projection and the raw embeddings —
    *
    *  - `parseval` (one row per vector): an orthonormal projection never
    *    inflates — Σ_c proj_c² ≤ ‖x − mean‖² (relative slack 1e-9);
    *  - `mean_zero` (one row per component): projections of centered
    *    data average to 0 (|avg| ≤ 1e-6 — avg, not sum, so the bound is
    *    n-independent);
    *  - `var_order` (one row per adjacent pair): deflated power
    *    iteration returns components in DESCENDING eigenvalue order, and
    *    the population variance of projection c IS its eigenvalue —
    *    var_c ≥ var_{c+1} − 1e-6·var_c.
    *
    * The DuckDB oracle is the materialized all-true relation (vec_ids
    * from the table + the literal dim ranges): a mis-centered,
    * non-orthonormal, or mis-ordered solve flips a boolean and
    * hash-mismatches. One covariance pass + one projection scan + one
    * grouped pass — everything after the scan is k-scaled. */
  def qEmbPcaCheck(spark: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val k = 8
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val model = fit(emb, k = k)
    val projected = project(emb, model).localCheckpoint()
    val meanLit = typedLit(model.mean.toSeq)
    val centered = zip_with(transform(col("embedding"), v => v.cast("double")),
      meanLit, (a, b) => a - b)
    val sq = (c: Column) => aggregate(
      zip_with(c, c, (a, b) => a * b), lit(0.0), _ + _)
    val parseval = projected
      .select(lit("parseval").as("chk"), col("vec_id").as("id"),
        (sq(col("proj")) <= sq(centered) * lit(1.0 + 1e-9) + lit(1e-9))
          .as("ok"))
    val perDim = projected
      .select(posexplode(col("proj")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(avg(col("v")).as("m"), var_pop(col("v")).as("s2"))
      .localCheckpoint() // k rows; feeds mean_zero AND the lag window
    val meanZero = perDim.select(lit("mean_zero").as("chk"),
      col("dim").cast("long").as("id"), (abs(col("m")) <= 1e-6).as("ok"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("dim"))
    val varOrder = perDim
      .withColumn("s2_next", lead(col("s2"), 1).over(w))
      .filter(col("s2_next").isNotNull)
      .select(lit("var_order").as("chk"), col("dim").cast("long").as("id"),
        (col("s2") >= col("s2_next") - lit(1e-6) * col("s2")).as("ok"))
    parseval.unionByName(meanZero).unionByName(varOrder)
      .orderBy(col("chk"), col("id"))
  }

  /** DuckDB mirror of [[qEmbPcaCheck]]: the truth relation the PCA
    * invariants guarantee (all-true over the vec_ids + dim ranges). */
  def qEmbPcaCheckSql: String =
    """SELECT 'parseval' AS chk, vec_id AS id, TRUE AS ok FROM embeddings
      |UNION ALL
      |SELECT 'mean_zero', CAST(d AS BIGINT), TRUE
      |FROM (SELECT unnest(range(0, 8)) AS d)
      |UNION ALL
      |SELECT 'var_order', CAST(d AS BIGINT), TRUE
      |FROM (SELECT unnest(range(0, 7)) AS d)
      |ORDER BY 1, 2""".stripMargin
}
