package graft.stats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Summary/enrichment aggregations from `padua/analysis.py` tail +
  * the covariance-ellipse helper from `visualize.py`. */
object Summaries {

  /** The exact, order-independent sum the intensity summaries use
    * (INVARIANTS.md §1): each value rounded at 6 decimals, summed on
    * the DECIMAL(38) carrier. Raw MaxQuant intensities (1e6–1e10 per
    * row) summed per sample pass the BIGINT carrier's 1e12 bound at
    * scale 6; the wide carrier rounds identically with 1e32 headroom,
    * so the value equals a `Moments.sumAt(_, 6)` wherever that fits. */
  private def intensitySum(c: Column): Column = Moments.sumWide(c, 6)

  /** Exact per-group `describe` — the pandas `df.describe()` contract
    * (count, mean, std, min, exact quartiles, max) that reference
    * users run constantly. Percentiles are the EXACT rank-selected
    * values via the skew-safe two-pass selection engine
    * (ops.Quantiles), not approx_percentile's non-reproducible
    * sketch; moments are exact sums (Moments) FUSED into the engine's
    * histogram pass (round-17): the per-(group, bucket) partial sums
    * — scale-6 BIGINT images for the linear sum, the wide scale-10
    * carrier for the squares — re-aggregate per group on the tiny
    * histogram frame and convert to double once. Exact addition is
    * associative, so the two-level split is value-identical to a
    * direct `sumAt`/`sumWide`, and the whole operator is TWO
    * full-data passes (histogram + target-rank) instead of the old
    * four (moments, stats, full shuffle+rank).
    *
    * A NULL group gets its own row, as SQL `GROUP BY` (and the oracle
    * mirrors) give it. Before round 17 the moments-to-quantiles inner
    * join dropped that row silently; callers with a nullable group
    * column now see it. */
  def describe(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    import Moments._
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0), "qs in (0, 1]")
    val ranked = graft.ops.Quantiles.selectedGroupRanks(
      df, Seq(groupCol), valueCol,
      rankFns = qs.map(q => (n: Column) => ceil(lit(q) * n)),
      numBuckets = 1024,
      // per-bucket exact partials (NOT converted to double — that
      // happens once, after the per-group re-sum, exactly where
      // sumAt/sumWide place it)
      bucketAggs = Seq(
        sum(unscaledAt(col(valueCol), 6)).as("_bs1"),
        sum(wideAt(col(valueCol) * col(valueCol), 10)).as("_bs2")),
      // per-group totals + raw-typed min/max carried onto every
      // ranked row — a per-group constant the final agg picks with
      // max(), so the whole operator is histogram + rank + ONE
      // group-sized aggregation, no separate moments frame to join
      carryAggs = Seq(
        "_ds1" -> sum(col("_bs1")),
        "_ds2" -> sum(col("_bs2")),
        "_mnv" -> min(col("_bmn")),
        "_mxv" -> max(col("_bmx"))))
    val qAggs = qs.map { q =>
      val name = s"p${math.round(q * 100)}"
      max(when(col("_rn") === ceil(lit(q) * col("_n")), col(valueCol))).as(name)
    }
    val aggs = Seq(
      max(col("_n")).as("n"),
      max(col("_mnv")).as("min"),
      max(col("_mxv")).as("max"),
      fromUnscaled(max(col("_ds1")), 6).as("_s1"),
      max(col("_ds2")).cast("double").as("_s2")) ++ qAggs
    ranked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
      .withColumn("mean", meanOf(col("_s1"), col("n")))
      .withColumn("std", sqrt(varOf(col("_s1"), col("_s2"), col("n"))))
      .drop("_s1", "_s2")
  }

  /** `enrichment_from_msp` (ref analysis.py:263-287): zero → missing,
    * per-(sample, modified-flag) intensity sums, modified/total ratio
    * per sample. One pass: conditional exact sums after the flag
    * projection (see [[intensitySum]]). */
  def enrichmentFromMsp(
      df: DataFrame,
      modificationsCol: String,
      sampleCol: String,
      valueCol: String,
      modification: String): DataFrame = {
    val isMod = coalesce(col(modificationsCol).contains(modification), lit(false))
    val v = when(col(valueCol) =!= 0, col(valueCol)) // 0 == not quantified
    df.groupBy(col(sampleCol))
      .agg(
        intensitySum(when(isMod, v)).as("modified"),
        intensitySum(v).as("total"))
      .withColumn("enrichment", Moments.div(col("modified"), col("total")))
  }

  /** `_non_zero_sum` (ref analysis.py:221-229): per-key sum of
    * positive values only (exact sum, see [[intensitySum]]). */
  def nonZeroSum(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    df.filter(col(valueCol) > 0)
      .groupBy(keyCols.map(col): _*)
      .agg(intensitySum(col(valueCol)).as("sum_value"))

  /** Technical-replicate collapse (S-1 notebook:
    * `df.median(axis=1, level=[0,1,2])`): exact median per
    * (feature, kept sample attributes). */
  def collapseTechnicalReplicates(
      df: DataFrame, idCols: Seq[String], keepAttrs: Seq[String], valueCol: String): DataFrame =
    df.groupBy((idCols ++ keepAttrs).map(col): _*)
      .agg(median(col(valueCol)).as(valueCol))

  /** `sitespeptidesproteins` (ref analysis.py:291-309): Class-I site
    * count, distinct peptide windows, distinct leading proteins. */
  def sitesPeptidesProteins(
      df: DataFrame,
      probCol: String = "Localization prob",
      seqCol: String = "Sequence window",
      proteinsCol: String = "Proteins",
      threshold: Double = 0.75): DataFrame = {
    val classI = df.filter(col(probCol) > threshold)
    classI.agg(
      count(lit(1)).as("sites"),
      countDistinct(col(seqCol)).as("peptides"),
      countDistinct(split(col(proteinsCol), ";").getItem(0)).as("proteins"))
  }

  /** `enrichment_from_evidence` (ref analysis.py:232-258): flag rows by
    * substring in the Modifications column, sum values per experiment
    * and flag, modified/total ratio per experiment — one conditional
    * aggregation pass of exact sums (see [[intensitySum]]). */
  def enrichmentFromEvidence(
      df: DataFrame,
      modificationsCol: String,
      experimentCol: String,
      valueCol: String,
      modification: String): DataFrame = {
    val isMod = coalesce(col(modificationsCol).contains(modification), lit(false))
    df.groupBy(col(experimentCol))
      .agg(
        intensitySum(when(isMod, col(valueCol))).as("modified"),
        intensitySum(col(valueCol)).as("total"))
      .withColumn("enrichment", Moments.div(col("modified"), col("total")))
  }

  /** `modificationlocalization` (ref visualize.py:751-795): Class
    * I/II/III localization-probability counts (>0.75 / (0.5,0.75] /
    * (0.25,0.5]; <=0.25 excluded). */
  def modificationLocalization(
      df: DataFrame, probCol: String = "Localization prob"): DataFrame =
    df.agg(
      sum(when(col(probCol) > 0.75, 1L).otherwise(0L)).as("class_i"),
      sum(when(col(probCol) > 0.5 && col(probCol) <= 0.75, 1L).otherwise(0L)).as("class_ii"),
      sum(when(col(probCol) > 0.25 && col(probCol) <= 0.5, 1L).otherwise(0L)).as("class_iii"))

  /** `quality_control` (ref visualize.py:1625-1662): total rows,
    * per-flag '+' counts, rows surviving all flags ("Filtered"), and
    * surviving rows with any non-zero Intensity/Ratio value
    * ("Quantified") — a single conditional-count pass instead of the
    * reference's five sequential copies. */
  def qualityControl(df: DataFrame): DataFrame = {
    val flagCols = Seq("Reverse", "Potential contaminant", "Contaminant",
      "Only identified by site").filter(df.columns.contains(_))
    def flagged(c: String) = coalesce(col(c).cast("string") === "+", lit(false))
    val pass = flagCols.map(c => !flagged(c))
      .reduceOption(_ && _).getOrElse(lit(true))
    // unanchored, like the reference's df.filter(regex=...) (re.search):
    // 'iBAQ Intensity 1' counts toward Quantified too, not only prefixed
    // 'Intensity .*' columns
    val exprCols = df.columns.filter(_.matches(".*(Intensity|Ratio).*")).toSeq
    // try_cast: expression columns may arrive string-typed from a loose
    // TSV read — ANSI mode would throw on a bare numeric compare
    // (INVARIANTS.md §5)
    val quantified = exprCols
      .map(c => coalesce(col(c).try_cast("double") =!= 0, lit(false)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val flagAggs = flagCols.map(c =>
      sum(when(flagged(c), 1L).otherwise(0L)).as(s"n_$c"))
    val base = Seq(
      count(lit(1)).as("total"),
      sum(when(pass, 1L).otherwise(0L)).as("filtered"),
      sum(when(pass && quantified, 1L).otherwise(0L)).as("quantified"))
    val aggs = base ++ flagAggs
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Bucket index for a fixed-width histogram: under/overflow clamped
    * to the edge bins. */
  private def bucketOf(valueCol: String, bins: Int, lo: Double, hi: Double) =
    least(greatest(
      width_bucket(col(valueCol), lit(lo), lit(hi), lit(bins)),
      lit(1)), lit(bins)).as("bucket")

  /** Fixed-width histogram of a value column (`comparedist` /
    * `compareimputed` / `_areadist` core, ref visualize.py:1374-1491):
    * width_bucket + count, nulls excluded. */
  def histogram(
      df: DataFrame, valueCol: String,
      bins: Int, lo: Double, hi: Double): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(bucketOf(valueCol, bins, lo, hi))
      .agg(count(lit(1)).as("n"))

  /** `comparedist`/`compareimputed` (ref visualize.py:1387-1491): the
    * same histogram over two frames, tagged `a`/`b` for side-by-side
    * comparison (original vs imputed, group 1 vs group 2). */
  def compareDist(
      a: DataFrame, b: DataFrame, valueCol: String,
      bins: Int = 100, lo: Double = 0.0, hi: Double = 1.0): DataFrame =
    a.select(lit("a").as("side"), col(valueCol))
      .unionByName(b.select(lit("b").as("side"), col(valueCol)))
      .filter(col(valueCol).isNotNull)
      .groupBy(col("side"), bucketOf(valueCol, bins, lo, hi))
      .agg(count(lit(1)).as("n"))

  /** `rankintensity` data (ref visualize.py:1075-1274): positive
    * intensities ranked ascending on log10 with the bucketed
    * distributed rank, segmented by order of magnitude. */
  def rankIntensity(df: DataFrame, idCol: String, intensityCol: String): DataFrame = {
    val base = df.filter(col(intensityCol) > 0)
      .select(col(idCol), log10(col(intensityCol)).as("log10_intensity"))
    graft.ops.DistributedRank
      .rowNumber(base, "log10_intensity", ascending = true, Seq(idCol))
      .withColumn("magnitude", floor(col("log10_intensity")).cast("long"))
  }

  /** `box` data contract (ref visualize.py:1673): per-group
    * five-number summary + count (the numbers a box plot draws), with
    * numpy-interpolated quartiles. Routed through the bucketed-rank
    * engine ([[graft.ops.Quantiles.fiveNumberByGroup]]) because box
    * groups are routinely corpus-scale and Spark's
    * `percentile`/`median` aggregates buffer a whole group in one
    * task. All-null groups emit no row (previously: a row of nulls). */
  def boxData(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    graft.ops.Quantiles.fiveNumberByGroup(df, groupCols, valueCol)

  /** `plot_point_cov`/`plot_cov_ellipse` data (ref visualize.py:60-113):
    * 2×2 covariance of an (x, y) cloud + eigen decomposition →
    * (center, width, height, angle) of the nσ ellipse, as one row.
    * Covariance is ONE exact moments aggregation (graft.stats.Moments —
    * INVARIANTS.md §1; portable when x·y is exact at the wide scale
    * 10), then the closed-form 2×2 symmetric eigen as a Column tree.
    * Output columns (cx, cy, width, height, angle_deg); the atan2
    * angle is the one transcendental — oracled callers round it on
    * both sides. */
  def covarianceEllipseDf(
      df: DataFrame, xCol: String, yCol: String, nstd: Double = 2.0): DataFrame = {
    val (x, y) = (col(xCol), col(yCol))
    df.agg(
        // wide scale-12 linear sums: |Σ| bound 1e26 (a 600M-row sf100
        // quantity sum is ~3e10); squares/products ride wide scale 10
        Moments.sumWide(x, 12).as("_sx"), Moments.sumWide(y, 12).as("_sy"),
        Moments.sumWide(x * x, 10).as("_sxx"), Moments.sumWide(y * y, 10).as("_syy"),
        Moments.sumWide(x * y, 10).as("_sxy"),
        count(x).as("_n"))
      .withColumn("cx", Moments.meanOf(col("_sx"), col("_n")))
      .withColumn("cy", Moments.meanOf(col("_sy"), col("_n")))
      .withColumn("_cxx", Moments.covOf(col("_sx"), col("_sx"), col("_sxx"), col("_n")))
      .withColumn("_cxy", Moments.covOf(col("_sx"), col("_sy"), col("_sxy"), col("_n")))
      .withColumn("_cyy", Moments.covOf(col("_sy"), col("_sy"), col("_syy"), col("_n")))
      .withColumn("_tr", col("_cxx") + col("_cyy"))
      .withColumn("_det", col("_cxx") * col("_cyy") - col("_cxy") * col("_cxy"))
      .withColumn("_disc", sqrt(greatest(col("_tr") * col("_tr") / lit(4.0) - col("_det"), lit(0.0))))
      .withColumn("_l1", col("_tr") / lit(2.0) + col("_disc"))
      .withColumn("_l2", col("_tr") / lit(2.0) - col("_disc"))
      .withColumn("width", lit(2.0 * nstd) * sqrt(greatest(col("_l1"), lit(0.0))))
      .withColumn("height", lit(2.0 * nstd) * sqrt(greatest(col("_l2"), lit(0.0))))
      .withColumn("angle_deg",
        when(col("_cxy") === 0.0, when(col("_cxx") >= col("_cyy"), 0.0).otherwise(90.0))
          .otherwise(degrees(atan2(col("_l1") - col("_cxx"), col("_cxy")))))
      .select("cx", "cy", "width", "height", "angle_deg")
  }
}
