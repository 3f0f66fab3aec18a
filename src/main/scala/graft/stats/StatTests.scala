package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Moments._

/** Per-feature hypothesis tests on the long form (ref
  * `padua/analysis.py`). All group moments are one partial-aggregated
  * `groupBy(id, group)` pass (map-side combine, single shuffle keyed by
  * the feature id — the plan that survives 100 TB); closed-form
  * statistics are then scalar expressions, p-values commons-math3.
  */
object StatTests {

  /** Default `sumSq` of the t-tests: the exact sum of squares of a
    * group's values on the wide scale-10 product image. Callers whose
    * values are exact at 2 decimals and small (keyed quantities) pass
    * `v => Moments.sumAt(v * v, 4)`, the same value on the BIGINT
    * carrier. The linear sums are always `sumAt(v, 6)`. */
  private val wideSumSq: Column => Column = v => sumWide(v * v, 10)

  /** Two-sample equal-variance t-test per feature between groups `a`
    * and `b` (ref analysis.py:467-498 `ttest_ind`, scipy mstats
    * semantics: NaN-masked = null-skipped here).
    * Output: idCols..., mean_a, mean_b, n_a, n_b, t, df, p.
    */
  def tTestInd(
      df: DataFrame,
      idCols: Seq[String],
      groupCol: String,
      valueCol: String,
      a: String,
      b: String,
      sumSq: Column => Column = wideSumSq): DataFrame = {
    val inAB = df.filter(col(groupCol) === a || col(groupCol) === b)
    val v = col(valueCol)
    val g = inAB
      .groupBy(idCols.map(col): _*)
      .agg(
        sumAt(when(col(groupCol) === a, v), 6).as("_s1a"),
        sumSq(when(col(groupCol) === a, v)).as("_s2a"),
        count(when(col(groupCol) === a, v)).as("n_a"),
        sumAt(when(col(groupCol) === b, v), 6).as("_s1b"),
        sumSq(when(col(groupCol) === b, v)).as("_s2b"),
        count(when(col(groupCol) === b, v)).as("n_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = meanOf(col("_s1a"), col("n_a"))
    val mb = meanOf(col("_s1b"), col("n_b"))
    val va = varOf(col("_s1a"), col("_s2a"), col("n_a"))
    val vb = varOf(col("_s1b"), col("_s2b"), col("n_b"))
    // pooled variance (equal-var t-test, scipy default)
    val dfree = na + nb - lit(2.0)
    val svar = div((na - 1.0) * va + (nb - 1.0) * vb, dfree)
    val t = div(ma - mb, sqrt(svar * (div(lit(1.0), na) + div(lit(1.0), nb))))
    g.withColumn("mean_a", ma)
      .withColumn("mean_b", mb)
      .withColumn("t", t)
      .withColumn("df", dfree)
      .withColumn("p", Distributions.tPValueTwoSided(col("t"), col("df")))
      .drop("_s1a", "_s2a", "_s1b", "_s2b")
  }

  /** Welch unequal-variance two-sample t per feature — scipy
    * `ttest_ind(equal_var=False)`, the variant every reference user
    * reaches for when group variances differ. Same single
    * partial-aggregated pass as [[tTestInd]]; t and the
    * Welch–Satterthwaite df are pure +,-,*,/ over the moments
    * (bitwise-portable), p the same closed-form beta.
    * Output: idCols..., mean_a, mean_b, n_a, n_b, t, df, p. */
  def tTestWelch(
      df: DataFrame,
      idCols: Seq[String],
      groupCol: String,
      valueCol: String,
      a: String,
      b: String,
      sumSq: Column => Column = wideSumSq): DataFrame = {
    val inAB = df.filter(col(groupCol) === a || col(groupCol) === b)
    val v = col(valueCol)
    val g = inAB
      .groupBy(idCols.map(col): _*)
      .agg(
        sumAt(when(col(groupCol) === a, v), 6).as("_s1a"),
        sumSq(when(col(groupCol) === a, v)).as("_s2a"),
        count(when(col(groupCol) === a, v)).as("n_a"),
        sumAt(when(col(groupCol) === b, v), 6).as("_s1b"),
        sumSq(when(col(groupCol) === b, v)).as("_s2b"),
        count(when(col(groupCol) === b, v)).as("n_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = meanOf(col("_s1a"), col("n_a"))
    val mb = meanOf(col("_s1b"), col("n_b"))
    val vna = div(varOf(col("_s1a"), col("_s2a"), col("n_a")), na)
    val vnb = div(varOf(col("_s1b"), col("_s2b"), col("n_b")), nb)
    val t = div(ma - mb, sqrt(vna + vnb))
    val dfree = div((vna + vnb) * (vna + vnb),
      div(vna * vna, na - 1.0) + div(vnb * vnb, nb - 1.0))
    g.withColumn("mean_a", ma)
      .withColumn("mean_b", mb)
      .withColumn("t", t)
      .withColumn("df", dfree)
      .withColumn("p", Distributions.tPValueTwoSided(col("t"), col("df")))
      .drop("_s1a", "_s2a", "_s1b", "_s2b")
  }

  /** One-sample t-test vs popmean (default 0) per feature (intended
    * semantics of ref analysis.py:435-464 `ttest_1samp`, whose body
    * has an undefined-variable bug — SURVEY §4.1; semantics taken from
    * visualize.py:557). */
  def tTest1Samp(
      df: DataFrame,
      idCols: Seq[String],
      valueCol: String,
      popMean: Double = 0.0,
      sumSq: Column => Column = wideSumSq): DataFrame = {
    val v = col(valueCol)
    val g = df
      .groupBy(idCols.map(col): _*)
      .agg(sumAt(v, 6).as("_s1"), sumSq(v).as("_s2"), count(v).as("n"))
    val nd = col("n").cast("double")
    val m = meanOf(col("_s1"), col("n"))
    val variance = varOf(col("_s1"), col("_s2"), col("n"))
    val t = div(m - lit(popMean), sqrt(div(variance, nd)))
    g.withColumn("mean", m)
      .withColumn("t", t)
      .withColumn("df", nd - lit(1.0))
      .withColumn("p", Distributions.tPValueTwoSided(col("t"), col("df")))
      .drop("_s1", "_s2")
  }

  /** One-way ANOVA per feature across all groups present (ref
    * analysis.py:387-432 `anova_1way`, masked semantics). The
    * reference loops rows in Python; here it is two hash aggregations.
    * The per-group sums stay exact partials (the BIGINT unscaled sum,
    * the DECIMAL(38) sum of squares) and are re-summed per feature on
    * the same carriers, so the feature totals are `sumAt(v, 6)` and
    * `sumWide(v * v, 10)` over the raw values; the within-group sum of
    * squares sums on the wide carrier. F is then the same bits
    * whatever order the partial aggregates meet in (INVARIANTS §1).
    * Output: idCols..., k, n, f, df1, df2, p.
    */
  def anova1Way(
      df: DataFrame,
      idCols: Seq[String],
      groupCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol)
    val perGroup = df
      .filter(v.isNotNull)
      .groupBy((idCols :+ groupCol).map(col): _*)
      .agg(sum(unscaledAt(v, 6)).as("_u1"), sum(wideAt(v * v, 10)).as("_w2"),
        count(v).as("_n"))
    val s1 = fromUnscaled(col("_u1"), 6)
    val s2 = col("_w2").cast("double")
    val g = perGroup
      .groupBy(idCols.map(col): _*)
      .agg(
        fromUnscaled(sum(col("_u1")), 6).as("_ts1"),
        sum(col("_w2")).cast("double").as("_ts2"),
        sum(col("_n")).as("n"),
        count(lit(1)).as("k"),
        // within-group sum of squares: Σ_g (s2_g - s1_g²/n_g)
        sumWide(s2 - div(s1 * s1, col("_n").cast("double")), 10).as("_ssw"))
    val nd = col("n").cast("double")
    val kd = col("k").cast("double")
    val sst = col("_ts2") - div(col("_ts1") * col("_ts1"), nd)
    val ssb = sst - col("_ssw")
    val df1 = kd - lit(1.0)
    val df2 = nd - kd
    val f = div(div(ssb, df1), div(col("_ssw"), df2))
    g.withColumn("f", f)
      .withColumn("df1", df1)
      .withColumn("df2", df2)
      .withColumn("p", Distributions.fPValueUpper(col("f"), col("df1"), col("df2")))
      .drop("_ts1", "_ts2", "_ssw")
  }

  /** Mann–Whitney U per feature (scipy `mannwhitneyu`, asymptotic
    * method without continuity correction), the nonparametric
    * complement of the t-tests.
    *
    * Rank bookkeeping is INTEGER-EXACT: per (feature, value) the
    * tie-averaged rank is cumBelow + (n+1)/2, so the DOUBLED rank sum
    * 2·R1 = Σ n_a·(2·cumBelow + n + 1) is a plain long sum —
    * order-independent with no decimal scaffolding — and
    * 2·U1 = 2·R1 − n1(n1+1) stays long until the z statistic. The
    * value-cumulation window partitions BY FEATURE over the per-value
    * summary (features are the high-cardinality axis, each partition
    * is one feature's distinct values — the same scale class as the
    * t-test aggregates). Tie correction Σ(t³−t) is likewise exact.
    * Output: idCols..., n_a, n_b, u1, z, p. */
  def mannWhitneyU(
      df: DataFrame,
      idCols: Seq[String],
      groupCol: String,
      valueCol: String,
      a: String,
      b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inAB = df.filter(
      (col(groupCol) === a || col(groupCol) === b) && col(valueCol).isNotNull)
    val pv = inAB
      .groupBy((idCols.map(col) :+ col(valueCol)): _*)
      .agg(
        count(when(col(groupCol) === a, lit(1))).as("_ta"),
        count(when(col(groupCol) === b, lit(1))).as("_tb"))
      .withColumn("_t", col("_ta") + col("_tb"))
    val w = Window.partitionBy(idCols.map(col): _*).orderBy(col(valueCol))
    val ranked = pv
      .withColumn("_cum", sum(col("_t")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_below", col("_cum") - col("_t"))
    val g = ranked
      .groupBy(idCols.map(col): _*)
      .agg(
        sum(col("_ta")).as("n_a"),
        sum(col("_tb")).as("n_b"),
        sum(col("_ta") * (lit(2L) * col("_below") + col("_t") + lit(1L))).as("_r1x2"),
        sum(col("_t") * col("_t") * col("_t") - col("_t")).as("_ties"))
    val n1 = col("n_a").cast("double")
    val n2 = col("n_b").cast("double")
    val nd = n1 + n2
    val u1 = (col("_r1x2").cast("double") - n1 * (n1 + lit(1.0))) / lit(2.0)
    val sigma = sqrt(div(n1 * n2, lit(12.0)) *
      ((nd + lit(1.0)) - div(col("_ties").cast("double"), nd * (nd - lit(1.0)))))
    val z = div(col("u1") - div(n1 * n2, lit(2.0)), sigma)
    val out = g.withColumn("u1", u1)
      .withColumn("z", z)
    out.withColumn("p",
        when(col("z").isNaN, lit(null)).otherwise(
          DistExpressions.normPTwoSided(col("z"))))
      .drop("_r1x2", "_ties")
  }

  /** Kruskal–Wallis H per feature across ALL groups present (scipy
    * `kruskal`, tie-corrected) — the k-group extension of
    * [[mannWhitneyU]], sharing its integer-exact rank bookkeeping:
    * per (feature, group) the DOUBLED rank sum
    * 2·R_g = Σ_v t_g(v)·(2·cumBelow(v) + t(v) + 1) is a plain long
    * sum; Σ_g R_g²/n_g then runs through an exact fine-decimal sum
    * (the one cross-group reduction, made order-independent), and
    *   H = (12/(n(n+1)) · ΣR_g²/n_g − 3(n+1)) / (1 − Σ(t³−t)/(n³−n))
    * with p = chi-square upper tail at k−1 df (closed-form gamma).
    * Output: idCols..., k, n, h, df, p. */
  def kruskalWallis(
      df: DataFrame,
      idCols: Seq[String],
      groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
    val tg = obs.groupBy((idCols.map(col) :+ col(groupCol) :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("_tg"))
    val tv = tg.groupBy((idCols.map(col) :+ col(valueCol)): _*)
      .agg(sum(col("_tg")).as("_t"))
    val w = Window.partitionBy(idCols.map(col): _*).orderBy(col(valueCol))
    val below = tv
      .withColumn("_cum", sum(col("_t")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_below", col("_cum") - col("_t"))
      .select((idCols.map(col) :+ col(valueCol) :+ col("_t") :+ col("_below")): _*)
    val perGroup = tg.join(below, idCols :+ valueCol)
      .groupBy((idCols.map(col) :+ col(groupCol)): _*)
      .agg(
        sum(col("_tg")).as("_ng"),
        sum(col("_tg") * (lit(2L) * col("_below") + col("_t") + lit(1L))).as("_r2"))
    val tiesPerFeature = below.groupBy(idCols.map(col): _*)
      .agg(sum(col("_t") * col("_t") * col("_t") - col("_t")).as("_ties"))
    // Σ_g R_g²/n_g: per-group terms are arbitrary rationals, so a
    // decimal-cast sum is NOT engine-portable (Spark's double→decimal
    // goes through the shortest repr, DuckDB rounds the exact binary
    // value — they can disagree at the cast scale, and the H formula's
    // cancellation amplifies it). Instead: deterministic left-to-right
    // fold over the GROUP-SORTED term list (invariant 1's array-fold
    // rule, mirrored by DuckDB list_sort + list_reduce). k terms per
    // feature — bounded.
    val g = perGroup.groupBy(idCols.map(col): _*)
      .agg(
        count(lit(1)).as("k"),
        sum(col("_ng")).as("n"),
        array_sort(collect_list(struct(
          col(groupCol).as("g"), col("_r2").as("r2"), col("_ng").as("ng")))).as("_lst"))
      .withColumn("_s", aggregate(col("_lst"), lit(0.0), (acc, x) =>
        acc + x.getField("r2").cast("double") * x.getField("r2").cast("double") /
          x.getField("ng").cast("double")))
      .drop("_lst")
      // no broadcast hint: tiesPerFeature is one row per FEATURE — the
      // high-cardinality axis — so forcing a broadcast would collect an
      // unbounded frame to the driver. Both sides are keyed by idCols;
      // AQE picks broadcast when the stats say it fits.
      .join(tiesPerFeature, idCols)
    val nd = col("n").cast("double")
    // ΣR_g²/n_g = Σ(2R_g)²/n_g / 4
    val hRaw = div(lit(12.0), nd * (nd + lit(1.0))) * div(col("_s"), lit(4.0)) -
      lit(3.0) * (nd + lit(1.0))
    val tieFactor = lit(1.0) - div(col("_ties").cast("double"), nd * nd * nd - nd)
    val h = div(hRaw, tieFactor)
    g.withColumn("h", h)
      .withColumn("df", col("k").cast("double") - lit(1.0))
      .withColumn("p", when(col("df") <= 0 || col("h").isNull, lit(null))
        .otherwise(DistExpressions.chiSqPValueUpper(col("h"), col("df"))))
      .drop("_s", "_ties")
  }

  /** Pearson chi-square test of independence over the 2-way
    * contingency of (aCol, bCol). Uses the algebraic identity
    * chi² = n·(Σ_cells o²/(rowTot·colTot)) − n, which makes ABSENT
    * cells (o = 0) contribute exactly nothing — so one groupBy over
    * observed pairs + two marginal aggregates is the whole plan, no
    * dense cross of categories. The cell terms o²/(rt·ct) are
    * ARBITRARY RATIONALS, so (invariant 1, bit round 4) they sum via
    * the deterministic left fold over the (a, b)-sorted cell list —
    * never a double→decimal cast sum, whose engines can disagree at
    * the cast scale.
    *
    * The sorted fold materializes every observed cell in ONE aggregate
    * row, so it is only safe for bounded contingencies: the operator
    * first counts observed cells (one extra partial-agg job over the
    * same groupBy — the guard's price on a one-row-output test) and
    * above `maxExactCells` falls back to the STREAMED fine-decimal sum
    * (order-independent, never collects; its double→decimal cast can
    * disagree with another engine in the last ulp — acceptable where
    * the cardinality already rules out a bitwise oracle).
    * df = (R−1)(C−1); p is the closed-form upper regularized gamma.
    * Output: one row (n, r_levels, c_levels, chi2, df, p). */
  def chiSquareIndependence(
      df: DataFrame, aCol: String, bCol: String,
      maxExactCells: Long = 1L << 20): DataFrame = {
    val obs = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    val cells = obs.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("_o"))
    val rowTot = cells.groupBy(col(aCol)).agg(sum(col("_o")).as("_rt"))
    val colTot = cells.groupBy(col(bCol)).agg(sum(col("_o")).as("_ct"))
    val joined = cells
      .join(broadcast(rowTot), aCol)
      .join(broadcast(colTot), bCol)
    val term = div(col("_o").cast("double") * col("_o").cast("double"),
      col("_rt").cast("double") * col("_ct").cast("double"))
    val nCells = cells.count()
    val g =
      if (nCells <= maxExactCells)
        joined.agg(
          array_sort(collect_list(struct(
            col(aCol).as("a"), col(bCol).as("b"), term.as("t")))).as("_lst"),
          sum(col("_o")).as("n"),
          countDistinct(col(aCol)).as("r_levels"),
          countDistinct(col(bCol)).as("c_levels"))
          .withColumn("_s", aggregate(col("_lst"), lit(0.0),
            (acc, x) => acc + x.getField("t")))
          .drop("_lst")
      else
        joined.agg(
          Moments.sumWide(term, 12).as("_s"),
          sum(col("_o")).as("n"),
          countDistinct(col(aCol)).as("r_levels"),
          countDistinct(col(bCol)).as("c_levels"))
    val nd = col("n").cast("double")
    val chi2 = nd * col("_s") - nd
    val dfree = (col("r_levels").cast("double") - lit(1.0)) *
      (col("c_levels").cast("double") - lit(1.0))
    g.withColumn("chi2", chi2)
      .withColumn("df", dfree)
      .withColumn("p", when(dfree <= 0 || DistExpressions.chiSqPValueUpper(col("chi2"), dfree).isNaN,
        lit(null)).otherwise(DistExpressions.chiSqPValueUpper(col("chi2"), dfree)))
      .drop("_s")
  }

  /** One row per (feature, ordered sample pair, x, y) with BOTH values
    * observed — the pairwise-complete building block shared by the
    * correlation matrix, the PCA Gram matrix and Ward distances.
    *
    * Plan: ONE groupBy(feature) gathers each feature's (sample, value)
    * list (samples ≤ 10³ — bounded per row), then an in-row pair
    * expansion. A self-join formulation would scan and shuffle the
    * fact table TWICE and sort both sides; this shuffles it once and
    * the pair blow-up happens after the exchange, feeding straight
    * into a partial aggregate.
    */
  def pairObservations(
      df: DataFrame,
      idCols: Seq[String],
      sampleCol: String,
      valueCol: String): DataFrame = {
    val gathered = df
      .filter(col(valueCol).isNotNull)
      .groupBy(idCols.map(col): _*)
      .agg(collect_list(struct(col(sampleCol).as("s"), col(valueCol).as("v"))).as("_obs"))
    val pairs = flatten(transform(col("_obs"), a =>
      transform(col("_obs"), b =>
        struct(a.getField("s").as("s1"), b.getField("s").as("s2"),
          a.getField("v").as("x"), b.getField("v").as("y")))))
    gathered
      .select(explode(pairs).as("_p"))
      .select(col("_p.s1"), col("_p.s2"), col("_p.x"), col("_p.y"))
      .filter(col("s1") <= col("s2"))
  }

  /** Pairwise-complete Pearson correlation matrix between samples (ref
    * analysis.py:26-48 `correlation`, np.ma.corrcoef semantics:
    * each pair uses rows where BOTH are observed — differs from
    * spark.ml's listwise deletion). Built on pairObservations (single
    * shuffle); the s² output is tiny. */
  def correlationMatrix(
      df: DataFrame,
      idCols: Seq[String],
      sampleCol: String,
      valueCol: String): DataFrame =
    pairObservations(df, idCols, sampleCol, valueCol)
      .groupBy(col("s1"), col("s2"))
      .agg(
        count(lit(1)).as("n"),
        sumAt(col("x"), 6).as("_sx"), sumAt(col("y"), 6).as("_sy"),
        sumWide(col("x") * col("x"), 10).as("_sxx"), sumWide(col("y") * col("y"), 10).as("_syy"),
        sumWide(col("x") * col("y"), 10).as("_sxy"))
      .withColumn("r", corrOf(col("n"), col("_sx"), col("_sy"), col("_sxx"), col("_syy"), col("_sxy")))
      .drop("_sx", "_sy", "_sxx", "_syy", "_sxy")
}
