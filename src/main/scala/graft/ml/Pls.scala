package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PLS via NIPALS (ref analysis.py:96-216 `plsda`/`plsr`; sklearn
  * PLSRegression is NIPALS-based). PLS1: single response y.
  *
  * Scale design: samples are few, features are table-scale. Feature
  * vectors (weights/loadings) stay DISTRIBUTED DataFrames keyed by the
  * feature id; sample vectors (scores, y) are driver-tiny maps. Each
  * NIPALS component costs two groupBy(feature) aggregations and one
  * per-sample aggregation — a constant number of shuffles per
  * component, independent of data size. Deflation is expressed lazily
  * on the long form (no materialized copy); `checkpointEvery`
  * components the lineage is cut via localCheckpoint to keep plans
  * bounded.
  */
object Pls {

  /** One NIPALS component. Besides the feature-weight frame and the
    * sample scores/loading the driver scalars of the iteration are
    * kept (wNorm, tt) plus the centered response it consumed (yc): an
    * oracle can then replay the distributed chain in SQL with ONLY
    * these tiny driver values injected as literals. */
  final case class PlsComponent(
      w: DataFrame,
      t: Map[String, Double],
      q: Double,
      wNorm: Double,
      tt: Double,
      yc: Map[String, Double])

  final case class PlsModel(
      sampleOrder: Seq[String],
      components: Seq[PlsComponent],
      yMean: Double)

  /** Fit PLS1 on long form + per-sample response. `y` maps sample →
    * response (e.g. class 0/1 for PLS-DA, ref analysis.py:116-123).
    *
    * The model is FIT on the labeled samples only but APPLIED to every
    * sample present in `df` (ref analysis.py:133-137: `x_scores =
    * plsr.transform(df.values.T)` projects non-selected samples into
    * the same latent space): weights, loadings, centering means and
    * y-regression all come from `y.keys`; scores cover all samples via
    * the same sequential deflation (equivalent to sklearn's
    * W(PᵀW)⁻¹ rotation). */
  def fit(
      spark: SparkSession,
      df: DataFrame,
      y: Map[String, Double],
      idCol: String,
      sampleCol: String,
      valueCol: String,
      nComponents: Int = 2): PlsModel = {
    val labeled = y.keys.toSeq.sorted
    val allSamples = df.select(col(sampleCol)).distinct()
      .collect().map(_.get(0).toString).sorted
    var yc = center(y) // centered response
    // center X per feature over the FITTED (labeled) samples (sklearn
    // PLSRegression centers the fit matrix; transform applies the same
    // means to held-out samples)
    // exact-decimal aggregations throughout the fit (Moments
    // convention): the model — and the scores the registry query
    // hash-checks against DuckDB — must not depend on partition
    // accumulation order
    import graft.stats.Moments.{meanOf, sumWide}
    val raw = df.select(col(idCol), col(sampleCol), coalesce(col(valueCol), lit(0.0)).as("_x"))
    val featureMeans = raw.filter(col(sampleCol).isin(labeled: _*))
      .groupBy(col(idCol)).agg(meanOf(sumWide(col("_x"), 12), count(col("_x"))).as("_fmu"))
    var x = raw.join(featureMeans, idCol)
      .select(col(idCol), col(sampleCol), (col("_x") - col("_fmu")).as("_x"))
      .localCheckpoint()

    val comps = (0 until nComponents).map { _ =>
      val ycThis = yc
      val yMap = typedLit(yc)
      // w = X_fit y / ||X_fit y||  (distributed over features; the
      // null element_at for unlabeled samples drops them from the sum).
      // w0 is checkpointed ONCE (r16): it used to be evaluated twice —
      // a full x-scale groupBy for the wNorm scalar and again inside
      // w's own checkpoint. Now wNorm aggregates the materialized
      // blocks and w stays a lazy row-local projection over them.
      val w0 = x.groupBy(col(idCol))
        .agg(sumWide(col("_x") * element_at(yMap, col(sampleCol)), 10).as("_w"))
        .localCheckpoint()
      val wNorm = math.sqrt(
        w0.agg(sumWide(col("_w") * col("_w"), 10)).head().getDouble(0))
      val w = w0.select(col(idCol), (col("_w") / wNorm).as("w"))
      // t = X^T w  (per sample, tiny — covers ALL samples)
      val tRows = x.join(w, idCol)
        .groupBy(col(sampleCol)).agg(sumWide(col("_x") * col("w"), 10).as("t"))
        .collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap
      // fit-side scalars use labeled scores only
      val tt = labeled.map { s => val t = tRows.getOrElse(s, 0.0); t * t }.sum
      // q = y^T t / t^T t  (scalar)
      val q = labeled.map(s => yc.getOrElse(s, 0.0) * tRows.getOrElse(s, 0.0)).sum / tt
      // p = X_fit t / t^T t  (distributed over features; labeled-only map)
      val tMapFit = typedLit(tRows.view.filterKeys(y.contains).toMap)
      val p = x.groupBy(col(idCol))
        .agg((sumWide(col("_x") * element_at(tMapFit, col(sampleCol)), 10) / tt).as("p"))
      // deflate EVERY sample: X ← X - t p^T ; y ← y - q t
      val tMapAll = typedLit(tRows)
      val xPrev = x
      x = x.join(p, idCol)
        .select(col(idCol), col(sampleCol),
          (col("_x") - element_at(tMapAll, col(sampleCol)) * col("p")).as("_x"))
        .localCheckpoint()
      // the superseded component's X blocks have no consumer once the
      // deflated X is materialized — free them now instead of pinning
      // O(components) corpus-scale checkpoint copies until driver GC
      // (the Dedup CC loop's round-scratch rule)
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(xPrev)
      yc = yc.map { case (s, v) => s -> (v - q * tRows.getOrElse(s, 0.0)) }
      PlsComponent(w, tRows, q, wNorm, tt, ycThis)
    }
    PlsModel(allSamples.toIndexedSeq, comps, y.values.sum / y.size)
  }

  /** Training-sample predictions: ŷ(s) = ȳ + Σ_c q_c·t_c(s) (the
    * NIPALS regression equation — ref analysis.py:164-216 `plsr`
    * returns predictions alongside scores). Driver-tiny. */
  def predict(spark: SparkSession, model: PlsModel): DataFrame = {
    import spark.implicits._
    model.sampleOrder.map { s =>
      val yhat = model.yMean +
        model.components.map(c => c.q * c.t.getOrElse(s, 0.0)).sum
      (s, yhat)
    }.toDF("sample", "predicted")
  }

  /** Per-sample scores table (components as columns) — tiny output. */
  def scores(spark: SparkSession, model: PlsModel): DataFrame = {
    import spark.implicits._
    model.sampleOrder.map { s =>
      (s, model.components.map(_.t.getOrElse(s, 0.0)))
    }.toDF("sample", "scores")
      .select(col("sample") +:
        model.components.indices.map(i => col("scores").getItem(i).as(s"lv_${i + 1}")): _*)
  }

  private def center(y: Map[String, Double]): Map[String, Double] = {
    val mu = y.values.sum / y.size
    y.map { case (k, v) => k -> (v - mu) }
  }
}
