package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.commons.math3.linear.{Array2DRowRealMatrix, EigenDecomposition}
import graft.stats.StatTests

/** PCA on samples (ref analysis.py:51-93 `pca`): the reference fits
  * sklearn PCA on `df.values.T` (rows = samples, columns = features,
  * NaN→0).
  *
  * Scale design: n_samples is small (≤10³) but n_features is
  * table-scale, so the only distributed-heavy object is the feature
  * axis. We compute the s×s sample Gram/covariance matrix with ONE
  * aggregation over the long form (s² tiny accumulators), eigen-solve
  * driver-side (commons-math3), then emit:
  *   - scores per sample (tiny),
  *   - weights per feature (distributed: one groupBy(feature) matvec).
  * No n_features×n_features object ever materializes — this survives
  * 100 TB where sklearn's SVD cannot.
  */
object Pca {

  final case class PcaModel(
      sampleOrder: Seq[String],
      components: Array[Array[Double]], // [comp][sample] — eigenvectors of the sample Gram
      eigenvalues: Array[Double], // λ_c = σ_c² of the centered matrix
      explainedVarianceRatio: Array[Double]) {
    /** The implicit feature count of the fit (missing cells are
      * zeros, so every feature has exactly this many cells). */
    def nSamples: Int = sampleOrder.length
  }

  /** Fit on long form (idCol, sampleCol, valueCol); nulls→0 like the
    * reference. CENTERING IS PER FEATURE — the reference fits sklearn
    * PCA on `df.values.T`, and sklearn centers each input column =
    * each protein/feature (analysis.py:82-84). (An earlier revision
    * centered per sample, which is the ref's optional `mean_center`
    * pre-step, NOT sklearn's internal centering — caught by
    * tools/notebook_parity.py against the File S-2 notebook chain.)
    *
    * Per-feature means never materialize driver-side (feature axis is
    * table-scale): the centered Gram expands as
    *   G[a,b] = Σ_f (x_fa-μ_f)(x_fb-μ_f)
    *          = cross[a,b] − m1[a] − m1[b] + Σ_f μ_f²
    * with cross[a,b] = Σ_f x_fa·x_fb (pair aggregation, skipping
    * zero-filled cells exactly) and m1[a] = Σ_f μ_f·x_fa (one join +
    * groupBy(sample)) — all s-sized outputs. */
  def fit(
      df: DataFrame,
      idCol: String,
      sampleCol: String,
      valueCol: String,
      nComponents: Int = 2): PcaModel = {
    val v = coalesce(col(valueCol), lit(0.0))
    val samples = df.select(col(sampleCol)).distinct()
      .collect().map(_.get(0).toString).sorted
    val sIdx = samples.zipWithIndex.toMap
    val nSamples = samples.length.toDouble

    // per-feature means: sum over PRESENT cells / total sample count
    // (missing cells are zeros — they contribute 0 to the sum but do
    // count in the denominator). Persisted (r16): TWO consumers below
    // (m1's join, mu2's global sum) each re-ran this corpus-scale
    // aggregation; one row per feature, unpersisted before fit returns.
    val featMeans = df.groupBy(col(idCol))
      .agg((graft.stats.Moments.sumWide(v, 12) / nSamples).as("_fmu"))
      .persist(graft.ops.Caches.memoLevel(df.sparkSession))

    // m1[a] = Σ_f μ_f·x_fa ; mu2 = Σ_f μ_f²
    val m1 = df.join(featMeans, idCol)
      .groupBy(col(sampleCol))
      .agg(graft.stats.Moments.sumWide(v * col("_fmu"), 10).as("m1"))
      .collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap
    val mu2 = featMeans
      .agg(graft.stats.Moments.sumWide(col("_fmu") * col("_fmu"), 10))
      .head().getDouble(0)
    featMeans.unpersist()

    // cross-products via one groupBy(feature) + in-row pair expansion
    // (zero-filled cells contribute 0 to every product, so skipping
    // nulls is exact). Upper triangle mirrored driver-side.
    // exact-decimal sums: the model (and every score downstream) is
    // partition-order-independent, so oracle literals recorded from
    // one run stay valid for any partitioning
    val cross = StatTests.pairObservations(df, Seq(idCol), sampleCol, valueCol)
      .groupBy(col("s1"), col("s2"))
      .agg(graft.stats.Moments.sumWide(col("x") * col("y"), 10).as("sxy"))
      .collect()
    val sN = samples.length
    val g = Array.ofDim[Double](sN, sN)
    cross.foreach { row =>
      val a = sIdx(row.get(0).toString); val b = sIdx(row.get(1).toString)
      val centered = row.getDouble(2) -
        m1.getOrElse(samples(a), 0.0) - m1.getOrElse(samples(b), 0.0) + mu2
      g(a)(b) = centered
      g(b)(a) = centered // pairObservations emits the upper triangle
    }

    val eig = new EigenDecomposition(new Array2DRowRealMatrix(g))
    val order = eig.getRealEigenvalues.zipWithIndex.sortBy(-_._1).take(nComponents)
    val totalVar = eig.getRealEigenvalues.filter(_ > 0).sum
    val comps = order.map { case (_, i) =>
      val vct = eig.getEigenvector(i).toArray
      // deterministic sign: largest-|coord| entry positive (sklearn-like svd_flip)
      val m = vct.indices.maxBy(j => math.abs(vct(j)))
      if (vct(m) < 0) vct.map(-_) else vct
    }
    PcaModel(samples.toSeq, comps,
      order.map(_._1), order.map(_._1 / totalVar))
  }

  /** Scores per sample (sklearn convention: V·Σ — the projection of
    * each feature-centered sample row onto the unit feature
    * components). One distributed matvec + tiny output.
    *
    * The projection runs over ALL cells of the zero-filled matrix —
    * including (feature, sample) cells with no long-form row, whose
    * centered value is (0 − μ_f). Rather than densifying, the absent
    * mass folds into one constant per component:
    *   Σ_all (x − μ_f)·w[f,c] = Σ_present x·w[f,c] − K_c,
    *   K_c = Σ_f μ_f·w[f,c]
    * (K is a 1-row distributed aggregate over the weights, collected
    * and injected as a literal). A present-rows-only centered sum —
    * the previous formulation — silently dropped every absent cell's
    * (0 − μ_f)·w term, diverging from sklearn on sparse long frames. */
  def sampleScores(
      spark: SparkSession, df: DataFrame, model: PcaModel,
      idCol: String, sampleCol: String, valueCol: String): DataFrame = {
    val v = coalesce(col(valueCol), lit(0.0))
    // persisted (r16): the weights chain (df scan + featMeans join +
    // groupBy) was evaluated TWICE — once for the K constants' collect
    // and again inside the returned projection plan. One row per
    // feature; session-lifetime LRU cache (the returned lazy frame
    // references it, so there is no safe in-function unpersist — same
    // contract as the span/signature memo caches). CONTRACT NOTE
    // (ADVICE r16): plan-dedup collapses repeated calls with the same
    // (df, model) onto one entry, but callers fitting MANY distinct
    // models accumulate one feature-sized entry per model for the
    // session, bounded only by LRU eviction — a long-lived service
    // fitting unbounded models should recycle its session or clear
    // spark.sharedState.cacheManager between batches.
    val weights = featureWeightsRaw(df, model, idCol, sampleCol, valueCol)
      .persist(graft.ops.Caches.memoLevel(spark))
    val kAggs = model.eigenvalues.indices.map(c =>
      graft.stats.Moments.sumWide(col("_fmu") * col(s"w_$c"), 10).as(s"k_$c"))
    // weights carries _fmu per feature, so K needs no extra join
    val kRow = weights.agg(kAggs.head, kAggs.tail: _*).head()
    val aggs = model.eigenvalues.zipWithIndex.map { case (lam, c) =>
      // empty/all-null weights aggregate to null K: substitute 0.0 so
      // the projection yields an empty frame instead of NPE-ing here
      val kc = if (kRow.isNullAt(c)) 0.0 else kRow.getDouble(c)
      ((graft.stats.Moments.sumWide(v * col(s"w_$c"), 10) -
        lit(kc)) / math.sqrt(lam)).as(s"pc_$c")
    }.toIndexedSeq
    df.join(weights, idCol)
      .groupBy(col(sampleCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Per-feature means derived in-plan as sum/nSamples (missing cells
    * are zeros: they count in the denominator but not the sum). */
  private def featMeans(
      df: DataFrame, model: PcaModel, idCol: String, valueCol: String): DataFrame = {
    val v = coalesce(col(valueCol), lit(0.0))
    df.groupBy(col(idCol))
      .agg((graft.stats.Moments.sumWide(v, 12) /
        model.nSamples.toDouble).as("_fmu"))
  }

  /** Unnormalized feature weights w[f,c] = Σ_s centered(f,s)·u_c[s]
    * (= σ_c·v_c[f]); [[sampleScores]] divides by σ_c. The `_fmu`
    * column rides along for the K constant.
    *
    * Like the scores, the sum covers ALL samples of the zero-filled
    * matrix: Σ_all (x−μ_f)·u = Σ_present x·u − μ_f·S_c with
    * S_c = Σ_s u_c[s] (a model constant — exactly 0 for λ≠0
    * eigenvectors of the centered Gram, kept for numerical
    * faithfulness to the actual eigenvector). */
  private def featureWeightsRaw(
      df: DataFrame, model: PcaModel,
      idCol: String, sampleCol: String, valueCol: String): DataFrame = {
    val v = coalesce(col(valueCol), lit(0.0))
    val aggs = model.components.zipWithIndex.map { case (comp, c) =>
      val compMap = map(model.sampleOrder.zip(comp)
        .flatMap { case (sm, w) => Seq(lit(sm), lit(w)) }: _*)
      graft.stats.Moments.sumWide(v * element_at(compMap, col(sampleCol)), 10)
        .as(s"_raw_$c")
    } :+ max(col("_fmu")).as("_fmu") // constant within the feature group
    val g = df.join(featMeans(df, model, idCol, valueCol), idCol)
      .groupBy(col(idCol)).agg(aggs.head, aggs.toIndexedSeq.tail: _*)
    g.select((col(idCol) +: model.components.zipWithIndex.map { case (comp, c) =>
      (col(s"_raw_$c") - col("_fmu") * lit(comp.sum)).as(s"w_$c")
    } :+ col("_fmu")).toIndexedSeq: _*)
  }

  /** Feature weights in the reference's convention (unit loadings
    * v_c[f], analysis.py:89-91 `pca.components_`): the raw weights
    * normalized by σ_c. */
  def featureWeights(
      df: DataFrame, model: PcaModel,
      idCol: String, sampleCol: String, valueCol: String): DataFrame = {
    val raw = featureWeightsRaw(df, model, idCol, sampleCol, valueCol)
    raw.select(col(idCol) +: model.eigenvalues.zipWithIndex.map { case (lam, c) =>
      (col(s"w_$c") / math.sqrt(lam)).as(s"w_$c")
    }.toIndexedSeq: _*)
  }
}
