package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Missing-value imputation (ref `padua/imputation.py`). */
object Impute {

  /** 2⁶⁰ as an exact double (hash-uniform denominator). */
  val TwoPow60: Double = 1152921504606846976.0

  /** Gaussian downshift imputation (ref imputation.py:14-63
    * `gaussian`, Perseus-style): per sample, observed μ and σ; fill
    * nulls with draws from N(μ + downshift·σ, (width·σ)²).
    *
    * Differences from the reference, by design (the reference uses
    * unseeded np.random.normal, imputation.py:58 — non-reproducible;
    * SURVEY §4.1 flags it):
    *  - the draw is a HASH of (seed, key columns), not an RNG stream:
    *    Box-Muller over two uniforms taken from the top 60 bits of
    *    md5. Positional RNGs (randn/np.random) change with partition
    *    layout; a content hash gives the same imputed value for the
    *    same row on any cluster size, any partitioning, any re-run —
    *    and is reproducible by an external engine (DuckDB md5), so the
    *    whole operator oracle-checks. z is rounded at 1e-7 (the
    *    portable-transcendental rule for ln/cos, INVARIANTS.md §1);
    *    per-sample moments are exact-decimal.
    *  - moments are one broadcast-joined aggregation instead of a
    *    per-column Python loop. Also emits `was_imputed` (the
    *    reference returns a parallel mask frame).
    *
    * `keyCols` identifies a row for the hash; empty ⇒ every column
    * except sample/value. */
  def gaussian(
      df: DataFrame,
      sampleCol: String = "sample",
      valueCol: String = "value",
      width: Double = 0.3,
      downshift: Double = -1.8,
      seed: Long = 42L,
      keyCols: Seq[String] = Seq.empty): DataFrame = {
    import graft.stats.Moments
    val keys = if (keyCols.nonEmpty) keyCols
      else df.columns.filterNot(c => c == sampleCol || c == valueCol).toSeq
    require(keys.nonEmpty, "gaussian imputation needs key columns to hash")
    val v = col(valueCol)
    val stats = df
      .filter(v.isNotNull)
      .groupBy(col(sampleCol))
      .agg(Moments.sumAt(v, 6).as("_s1"), Moments.sumWide(v * v, 10).as("_s2"),
        count(v).as("_n"))
      .select(col(sampleCol),
        Moments.meanOf(col("_s1"), col("_n")).as("_mu"),
        sqrt(Moments.varOf(col("_s1"), col("_s2"), col("_n"))).as("_sd"))
    val keyStr = concat_ws("|",
      (lit(s"g$seed") +: keys.map(c => col(c).cast("string"))): _*)
    def unif(salt: String) =
      (graft.functions.TextHashExpressions.md5Top60(concat(lit(salt + "|"), keyStr))
        .cast("double") + 0.5) / TwoPow60
    val z = round(
      sqrt(lit(-2.0) * log(unif("a"))) * cos(lit(2.0 * math.Pi) * unif("b")), 7)
    df.join(broadcast(stats), Seq(sampleCol), "left")
      .withColumn("was_imputed", v.isNull)
      .withColumn(valueCol,
        when(v.isNotNull, v)
          .otherwise((col("_mu") + lit(downshift) * col("_sd")) +
            z * (lit(width) * col("_sd"))))
      .drop("_mu", "_sd")
  }

  /** PLS-based imputation (ref imputation.py:66-113 `pls` — dead code
    * on modern pandas via `.ix`; semantics reconstructed from its
    * intent): features with NO missing values form the predictor
    * block; each feature WITH missing values gets a `nComponents`-
    * component PLS1 regression of its row-median-filled profile on the
    * complete block, and its missing slots take the in-sample
    * predictions (the reference predicts `plsr.predict(dfo.iloc[:,ix])`
    * — the in-sample score of sample ix; note the kernel
    * reconstruction here is center-only, whereas sklearn's
    * PLSRegression default `scale=True` also standardizes X and y, so
    * numeric parity with the (dead-code) reference path is up to that
    * scaling choice).
    *
    * Spark-first re-expression — the reference loops one sklearn fit
    * per missing row on the driver: every per-feature model depends on
    * the complete block ONLY through the s×s centered sample Gram
    * matrix (kernel PLS: t_c = K_c y_c / √(y_cᵀK_c y_c), K deflated by
    * the score projector each component). So ONE distributed pass
    * builds the Gram (s ≤ 10³ ⇒ driver-tiny, README scale rule 4) and
    * each incomplete feature is an O(s²·k) kernel solve, distributed
    * over features via mapGroups — no driver loop, no per-feature scan.
    *
    * Output: (idCol, sampleCol, valueCol, was_imputed) with id/sample
    * cast to string; incomplete features emit one row per sample
    * (missing slots materialized), complete features pass through.
    * Features with zero observed values stay null (nothing to fit). */
  def pls(
      spark: SparkSession,
      df: DataFrame,
      idCol: String = "id",
      sampleCol: String = "sample",
      valueCol: String = "value",
      nComponents: Int = 2): DataFrame =
    plsWithCleanup(spark, df, idCol, sampleCol, valueCol, nComponents)._1

  /** `pls` plus a cleanup handle that unpersists the working-set cache
    * and destroys the Gram/sample broadcasts (same contract as
    * Pipelines.hierarchicalTimecourse): call it ONLY after the returned
    * frame is materialized — the plan references both broadcasts at
    * execution time. Without it the cache/broadcast blocks live until
    * the session's ContextCleaner collects them. */
  def plsWithCleanup(
      spark: SparkSession,
      df: DataFrame,
      idCol: String = "id",
      sampleCol: String = "sample",
      valueCol: String = "value",
      nComponents: Int = 2): (DataFrame, () => Unit) = {
    import spark.implicits._
    // persist: the profile frame feeds five consumers across three
    // separate actions (samples collect, Gram collect, final output) —
    // unpersisted, each action re-derives the input lineage. The frame
    // is the algorithm's working set (3 narrow columns, one row per
    // matrix cell); cache lives for the session (MEMORY_AND_DISK
    // blocks are LRU-evictable).
    val base = df.select(
      col(idCol).cast("string").as("_id"),
      col(sampleCol).cast("string").as("_s"),
      col(valueCol).cast("double").as("_v"))
      .persist(Caches.memoLevel(spark))
    val samples = base.select(col("_s")).distinct()
      .collect().map(_.getString(0)).sorted
    val sIdx = samples.zipWithIndex.toMap
    val nS = samples.length

    // completeness + per-feature mean in ONE aggregation pass (r16,
    // guide §2.3 "aggregate before you shuffle"): a feature is a
    // predictor iff it has all s values, and the complete features'
    // means are pure functions of the same per-feature (count, exact
    // sum) — the old separate mu aggregation re-scanned the complete
    // block for moments this pass already has. Persisted: one row per
    // feature, three consumers (semi, anti, mean join).
    val featStats = base.groupBy(col("_id"))
      .agg(count(col("_v")).as("_n"),
        graft.stats.Moments.sumAt(col("_v"), 6).as("_s1"))
      .persist(Caches.memoLevel(spark))
    val completeIds = featStats.filter(col("_n") === nS).select(col("_id"))
    val complete = base.join(completeIds, Seq("_id"), "left_semi")
    val incomplete = base.join(completeIds, Seq("_id"), "left_anti")

    // centered s×s Gram of the complete block: center per feature,
    // in-row pair expansion (one shuffle), tiny collect. Exact-decimal
    // mean (Moments): with the Gram's exact product sums this makes
    // the whole kernel solve partition-order-independent — and, since
    // every remaining step is plain +,-,*,/,sqrt over per-feature
    // scalars, SQL-replayable.
    val mu = featStats.filter(col("_n") === nS).select(col("_id"),
      graft.stats.Moments.meanOf(col("_s1"), col("_n")).as("_mu"))
    val centered = complete.join(mu, Seq("_id"))
      .select(col("_id"), col("_s"), (col("_v") - col("_mu")).as("_v"))
    val gram = Array.ofDim[Double](nS, nS)
    // exact-DECIMAL product sum (Moments convention): gram entries —
    // and every imputed value downstream — must not depend on
    // partition accumulation order
    graft.stats.StatTests.pairObservations(centered, Seq("_id"), "_s", "_v")
      .groupBy(col("s1"), col("s2"))
      .agg(graft.stats.Moments.sumWide(col("x") * col("y"), 10).as("k"))
      .collect().foreach { r =>
        val a = sIdx(r.getString(0)); val b = sIdx(r.getString(1))
        val v = r.getDouble(2)
        gram(a)(b) = v; gram(b)(a) = v
      }
    val bcGram = spark.sparkContext.broadcast(gram)
    val bcSamples = spark.sparkContext.broadcast(samples)

    // per incomplete feature: kernel-PLS solve, distributed over features
    val imputed = incomplete
      .select(col("_id"), col("_s"), col("_v"))
      .as[(String, String, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (fid, rows) =>
        val smp = bcSamples.value
        val n = smp.length
        val obs = rows.map(r => r._2 -> r._3).toMap
        val y = smp.map(s => obs.get(s).flatten)
        val observed = y.flatten
        if (observed.isEmpty) {
          // nothing to fit: keep slots that existed, all null
          smp.filter(obs.contains).toSeq.map(s => (fid, s, Option.empty[Double], false))
        } else {
          val med = {
            val v = observed.sorted
            if (v.length % 2 == 1) v(v.length / 2)
            else (v(v.length / 2 - 1) + v(v.length / 2)) / 2.0
          }
          val yFilled = y.map(_.getOrElse(med))
          val yMean = yFilled.sum / n
          var yc = yFilled.map(_ - yMean)
          // K deflates per component: K ← P K P, P = I - t tᵀ/tᵀt
          var k = Array.tabulate(n, n)((i, j) => bcGram.value(i)(j))
          val yhat = Array.fill(n)(yMean)
          var c = 0
          var degenerate = false
          while (c < nComponents && !degenerate) {
            val ky = Array.tabulate(n)(i => (0 until n).map(j => k(i)(j) * yc(j)).sum)
            val wNorm2 = (0 until n).map(i => yc(i) * ky(i)).sum
            if (wNorm2 <= 1e-12) degenerate = true
            else {
              val wNorm = math.sqrt(wNorm2)
              val t = ky.map(_ / wNorm)
              val tt = t.map(v => v * v).sum
              val q = (0 until n).map(i => yc(i) * t(i)).sum / tt
              var i = 0
              while (i < n) { yhat(i) += q * t(i); i += 1 }
              // deflate K and y by the score projector
              val kt = Array.tabulate(n)(i => (0 until n).map(j => k(i)(j) * t(j)).sum)
              val tkt = (0 until n).map(i => t(i) * kt(i)).sum
              k = Array.tabulate(n, n)((i, j) =>
                k(i)(j) - t(i) * kt(j) / tt - kt(i) * t(j) / tt +
                  t(i) * t(j) * tkt / (tt * tt))
              yc = Array.tabulate(n)(i => yc(i) - q * t(i))
              c += 1
            }
          }
          smp.indices.toSeq.map { i =>
            y(i) match {
              case Some(v) => (fid, smp(i), Some(v), false)
              case None => (fid, smp(i), Some(yhat(i)), true)
            }
          }
        }
      }
      .toDF("_id", "_s", "_v", "was_imputed")

    val out = complete.withColumn("was_imputed", lit(false))
      .unionByName(imputed)
      .withColumnsRenamed(Map("_id" -> idCol, "_s" -> sampleCol, "_v" -> valueCol))
    (out, () => {
      base.unpersist(); featStats.unpersist()
      bcGram.destroy(); bcSamples.destroy()
    })
  }
}
