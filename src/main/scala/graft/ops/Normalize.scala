package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Normalization (ref `padua/normalization.py`). */
object Normalize {

  /** Long-form `subtract_column_median` (ref normalization.py:4-22):
    * subtract each sample's median of observed values from every value
    * of that sample. `±inf` already nulled upstream (Reshape.infToNull).
    *
    * Plan: exact interpolating median per sample via
    * [[Quantiles.medianByGroup]] (two-level bucketed rank) + broadcast
    * rejoin. Spark's `median` aggregate would buffer an entire
    * sample's values in ONE final-aggregation task — samples are few
    * but each can be a large fraction of a 100 TB table, which is
    * exactly the hot-group OOM the bucketed-rank engine exists to
    * avoid. Same interpolating definition as pandas/DuckDB median —
    * medianByGroup computes (lo+hi)/2, whereas Spark's `median`
    * aggregate computes lo+(hi−lo)·0.5, a different IEEE tree that can
    * differ in the last ulp for even-n groups; the oracle SQL mirrors
    * the (lo+hi)/2 tree, so parity holds (invariant 1). Exactness is
    * required for oracle parity (SURVEY §7.4) — pandas median is
    * exact. */
  def subtractColumnMedian(
      df: DataFrame,
      sampleCol: String = "sample",
      valueCol: String = "value"): DataFrame = {
    val medians = Quantiles.medianByGroup(df, sampleCol, valueCol)
    df.join(broadcast(medians), Seq(sampleCol), "left")
      .withColumn(valueCol, col(valueCol) - col("_median"))
      .drop("_median")
  }

  /** Z-score within a partition key (ref visualize.py:1520-1525,
    * 1694-1699): `(x - mean) / stddev` per group; axis choice = key
    * choice (per-sample vs per-feature) on the long form. */
  def zscore(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String = "value",
      outCol: String = "zscore",
      broadcastStats: Boolean = false): DataFrame = {
    // broadcastStats=true only when the key domain is small (per-sample
    // axis). Per-feature keys have table-scale cardinality — that join
    // must stay a shuffled hash join (AQE picks it), never a broadcast.
    val stats = df
      .groupBy(keyCols.map(col): _*)
      .agg(avg(col(valueCol)).as("_mu"), stddev_samp(col(valueCol)).as("_sd"))
    val dim = if (broadcastStats) broadcast(stats) else stats
    df.join(dim, keyCols, "left")
      .withColumn(outCol, org.apache.spark.sql.functions.try_divide(col(valueCol) - col("_mu"), col("_sd")))
      .drop("_mu", "_sd")
  }
}
