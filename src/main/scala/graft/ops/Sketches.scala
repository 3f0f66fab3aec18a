package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions

/** Deterministic, mergeable sketches — the approximate path for the
  * three operations that stop scaling exactly at 100 TB: distinct
  * counting (KMV), quantiles (bottom-k hash sample), and weighted
  * sampling (priority sampling). All three are built on the engine-
  * portable md5-top60 hash family ([[graft.pipeline.TrainingData]]
  * `hashUniform`), so unlike `approx_count_distinct` /
  * `approx_percentile` (whose sketch state is engine-private and run-
  * dependent) every result here is a pure function of the input SET:
  * bitwise reproducible across partitionings, cluster sizes, and
  * engines — each query hash-checks against a DuckDB replay.
  *
  * Scale contracts:
  *  - KMV ships at most k longs per map task (partial ImperativeAggregate
  *    before the shuffle) where count(DISTINCT) shuffles every value;
  *  - the bottom-k sample runs as TakeOrderedAndProject (per-partition
  *    partial top-k, then a k-row merge — no global sort);
  *  - priority sampling is one TakeOrdered over a row-local priority.
  */
object Sketches {

  /** 2^60 — exactly representable; the h60 hash range. */
  val TwoPow60: Double = 1152921504606846976.0

  /** Portable 60-bit hash (top 60 bits of md5 = the digest's first 15
    * hex digits). DuckDB image:
    * `CAST(CONCAT('0x', SUBSTR(md5(x), 1, 15)) AS BIGINT)`.
    * Computed by the codegen'd [[graft.functions.Md5Top60Expr]] —
    * value-identical to the conv(substring(md5)) builtin chain but
    * without its per-row digest allocation + hex render/re-parse. */
  def h60(tagged: Column): Column =
    graft.functions.TextHashExpressions.md5Top60(tagged)

  /** Per-group KMV distinct-count estimate (Bar-Yossef et al. 2002):
    * hash each value, keep the k smallest distinct hashes per group
    * ([[graft.functions.KmvAgg]]), estimate (k-1)·2⁶⁰ / kth-min —
    * exact when a group has fewer than k distinct hashes. Standard
    * error ≈ 1/sqrt(k-2). The estimate arithmetic is IEEE mult/div of
    * exactly-convertible operands, so it bit-matches the SQL replay. */
  def kmvDistinctByKey(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      k: Int,
      tag: String = "kmv"): DataFrame = {
    val h = h60(concat_ws("|", lit(tag), col(valueCol).cast("string")))
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(SketchFunctions.kmvMins(h, k).as("_mins"))
      .select((keys.map(col) :+
        when(size(col("_mins")) < k, size(col("_mins")).cast("double"))
          .otherwise(
            lit((k - 1).toDouble) * lit(TwoPow60) /
              element_at(col("_mins"), k).cast("double"))
          .as("distinct_est")): _*)
  }

  /** Deterministic bottom-k uniform sample: the k rows with the
    * smallest h60(tag|id) — a fixed-size simple random sample that is
    * a pure function of the id set (same sample on any partitioning /
    * engine), executed as TakeOrderedAndProject. The building block
    * for [[sampleQuantiles]] and any "look at k random rows" audit. */
  def bottomKSample(df: DataFrame, idCol: String, k: Int, tag: String): DataFrame =
    df.withColumn("_h",
        h60(concat_ws("|", lit(tag), col(idCol).cast("string"))))
      .orderBy(col("_h"), col(idCol))
      .limit(k)

  /** Approximate quantiles from the deterministic bottom-k sample:
    * rank the k sampled values (bucketed distributed rank — invariant
    * 6) and read value at rank max(1, ceil(q·m)), m = |sample|. With
    * sample size k the rank error is O(1/sqrt(k)) in quantile space.
    * Returns one row per requested quantile: (q, value).
    *
    * The exact-rank selection (not interpolation) keeps every output a
    * value that exists in the data — and makes the whole chain integer
    * + IEEE-exact, replayable in SQL. Exact counterpart:
    * [[Quantiles.exactGroupQuantiles]]. */
  def sampleQuantiles(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      k: Int,
      qs: Seq[Double],
      tag: String = "sq"): DataFrame =
    sampleQuantilesWithCleanup(df, valueCol, idCol, k, qs, tag)._1

  /** [[sampleQuantiles]] plus an unpersist hook for the pinned ≤k-row
    * sample (same contract as Impute.plsWithCleanup and the pair
    * family's cleanup handles): call it only after the returned frame
    * is materialized — the plan reads the cached sample at execution
    * time, and unpersisting earlier would re-run the TakeOrdered over
    * the full corpus. Without the hook the blocks live until the
    * session's ContextCleaner collects them. */
  def sampleQuantilesWithCleanup(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      k: Int,
      qs: Seq[Double],
      tag: String = "sq"): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    import spark.implicits._
    // persist the ≤k-row sample: the rank machinery below runs several
    // small jobs over it, and without the pin each one would re-run
    // the TakeOrdered over the full corpus — scans, not the sketch's
    // O(k) merge, would dominate at scale
    val sample = bottomKSample(
      df.filter(col(valueCol).isNotNull).select(col(valueCol), col(idCol)),
      idCol, k, tag)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (ranked, m) = DistributedRank.rowNumberCounted(
      sample, valueCol, ascending = true, tieCols = Seq(idCol), outCol = "_rn")
    val targets = qs.map(q => (q, math.max(1L, math.ceil(q * m).toLong))).toDF("q", "_tr")
    val out = ranked.join(broadcast(targets), col("_rn") === col("_tr"))
      .select(col("q"), col(valueCol).cast("double").as("value"))
    (out, () => { sample.unpersist(); () })
  }

  /** Per-group [[sampleQuantiles]]: bottom-k hash sample WITHIN each
    * key, per-group sample size m, value at rank max(1, ceil(q·m)).
    * One row per (key, q).
    *
    * Primary path (integral id + numeric value): ONE mergeable
    * aggregation ([[graft.functions.BottomKHashAgg]] — map-side
    * partials carry ≤k entries per group per task) followed by
    * row-local array ops on the ≤k-element sample: sort by (value,
    * id), read element_at(ceil(q·m)). No per-key windows at all —
    * the r14 decade run measured the window form ~linear (exponent
    * 1.03 at sf100) because BOTH windows shuffle every sampled input
    * row; the aggregate ships k rows per key. Results are bitwise
    * identical to the window form: selection order (h ASC, id ASC) on
    * the exact 60-bit hash, rank order (value, id), same IEEE rank
    * arithmetic.
    *
    * NON-integral ids take the same aggregate with the id carried as
    * STRING ([[graft.functions.BottomKHashStrAgg]], round-16): the
    * (h, id) selection tie-break is then UTF8-binary = Spark string
    * order, identical to the window form for STRING-keyed data (the
    * id is hashed through its string image either way). For other
    * non-integral id types (decimal, double, date) the equivalence
    * claim is NOT exact: on a 60-bit hash collision the aggregate
    * tie-breaks on the STRING CAST where the windowed form uses
    * native-type order — astronomically rare, and it only perturbs
    * which sample row is kept, never the rank arithmetic (ADVICE
    * r16). The
    * O(rows)-shuffle [[sampleQuantilesByKeyWindowed]] form is no
    * longer silently chosen for any id type — it stays public for
    * explicit opt-in only. Non-numeric value types (no quantile
    * ordering under the double cast) are rejected loudly. */
  def sampleQuantilesByKey(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      idCol: String,
      k: Int,
      qs: Seq[Double],
      tag: String = "sq"): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, NumericType, ShortType, TimestampType}
    val idIntegral = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val valueNumeric = df.schema(valueCol).dataType match {
      case _: NumericType | TimestampType => true
      case _ => false
    }
    require(valueNumeric,
      s"sampleQuantilesByKey needs a numeric value column, got " +
        s"${df.schema(valueCol).dataType} for '$valueCol'; use " +
        "sampleQuantilesByKeyWindowed explicitly for raw-order ranking")

    val h = h60(concat_ws("|", lit(tag), col(idCol).cast("string")))
    val sampleAgg =
      if (idIntegral)
        SketchFunctions.bottomKByHash(
          h, col(idCol).cast("long"), col(valueCol).cast("double"), k)
      else
        SketchFunctions.bottomKByHashStr(
          h, col(idCol).cast("string"), col(valueCol).cast("double"), k)
    val agged = df.filter(col(valueCol).isNotNull)
      .select((keys.map(col) :+ col(valueCol) :+ col(idCol)): _*)
      .groupBy(keys.map(col): _*)
      .agg(sampleAgg.as("_s"))
    // rank within the ≤k sample is row-local: sort the array by
    // (value, id) and index it at the target rank per quantile
    val byValue = array_sort(col("_s"), (l, r) =>
      when(l.getField("value") < r.getField("value"), -1)
        .when(l.getField("value") > r.getField("value"), 1)
        .when(l.getField("id") < r.getField("id"), -1)
        .when(l.getField("id") > r.getField("id"), 1)
        .otherwise(0))
    agged
      .withColumn("_m", size(col("_s")))
      .withColumn("_sorted", byValue)
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .select((keys.map(col) :+ col("q") :+
        element_at(col("_sorted"),
          greatest(lit(1L), ceil(col("q") * col("_m").cast("double"))).cast("int"))
          .getField("value").as("value")): _*)
  }

  /** Window-machinery form of [[sampleQuantilesByKey]] for arbitrary
    * id/value types: bottom-k hash sample via a per-key rank window,
    * per-group m joined in-plan. Every stage is still key-partitioned
    * relational algebra (invariant 6), but both windows shuffle every
    * sampled row — prefer the aggregate path where types allow. */
  def sampleQuantilesByKeyWindowed(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      idCol: String,
      k: Int,
      qs: Seq[Double],
      tag: String = "sq"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df.filter(col(valueCol).isNotNull)
      .select((keys.map(col) :+ col(valueCol) :+ col(idCol)): _*)
      .withColumn("_h", h60(concat_ws("|", lit(tag), col(idCol).cast("string"))))
    val sample = DistributedRank.topKPerKey(
      hashed, keys, "_h", ascending = true, tieCols = Seq(idCol), k, outCol = "_hr")
    val m = sample.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_m"))
    val ranked = DistributedRank.topKPerKey(
      sample, keys, valueCol, ascending = true, tieCols = Seq(idCol), k, outCol = "_rn")
    val qdf = qs.toDF("q")
    ranked.join(m, keys)
      .crossJoin(broadcast(qdf))
      .filter(col("_rn") ===
        greatest(lit(1L), ceil(col("q") * col("_m").cast("double"))))
      .select((keys.map(col) :+ col("q") :+
        col(valueCol).cast("double").as("value")): _*)
  }

  /** HyperLogLog (Flajolet et al. 2007) on the portable md5-top60
    * hash — the O(m)-state distinct counter for when even KMV's k
    * longs per group are too many (m = 2^b registers of one byte of
    * information each; standard error ≈ 1.04/sqrt(m)).
    *
    * Register split of the 60-bit hash: bucket = top b bits,
    * w = low (60−b) bits, rho(w) = leading-zero count of w within
    * (60−b) bits + 1 = (61−b) − bitlength(w) (w = 0 → 61−b). The
    * registers are a two-level relational aggregation — groupBy
    * bucket → max(rho) — so map-side partial aggregation ships at
    * most m rows per task, the same state bound as the classic
    * register-array implementation, and the sketch stays a pure
    * function of the input SET (any partitioning, any engine).
    *
    * Determinism (INVARIANTS.md §1): the harmonic sum Σ 2^−M_j is
    * order-dependent in floating point, so it is computed as the
    * EXACT integer Σ 2^(maxRho−M_j) (BIGINT: ≤ m·2^(61−b) ≤ 2^61 for
    * b ≥ 8) and divided once in double; rho itself is string-exact
    * via bin() (no log2). The only transcendental is the small-range
    * linear-counting branch m·ln(m/V), rounded once at 9 digits on
    * both sides. alpha_m is a driver constant injected identically
    * into both expression trees. */
  def hllDistinctByKey(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      b: Int = 8,
      tag: String = "hll"): DataFrame = {
    val regs = hllRegisters(df, keys, valueCol, b, tag)
    val agg = regs.groupBy(keys.map(col): _*)
      .agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${61 - b} - _M)")).as("_sp"),
        count(lit(1)).as("_n"))
    agg.select((keys.map(col) :+ hllEstimate(b).as("distinct_est")): _*)
  }

  /** (keys..., _bkt, _M): max-rho register per present bucket. */
  private def hllRegisters(
      df: DataFrame, keys: Seq[String], valueCol: String, b: Int, tag: String): DataFrame = {
    require(b >= 4 && b <= 16, s"hll needs 4 <= b <= 16, got $b")
    val low = 60 - b
    val h = h60(concat_ws("|", lit(tag), col(valueCol).cast("string")))
    df.filter(col(valueCol).isNotNull)
      .select((keys.map(col) :+
        shiftright(h, low).as("_bkt") :+
        h.bitwiseAND(lit((1L << low) - 1)).as("_w")): _*)
      .select((keys.map(col) :+ col("_bkt") :+
        when(col("_w") === 0, lit(low + 1))
          .otherwise(lit(low + 1) - length(bin(col("_w"))))
          .cast("int").as("_rho")): _*)
      .groupBy((keys.map(col) :+ col("_bkt")): _*)
      .agg(max(col("_rho")).as("_M"))
  }

  /** alpha_m · m² · 2^(61−b) / sumInt over (_sp = Σ_present
    * 2^(maxRho−M), _n = #present), with absent-bucket terms folded in
    * as integers, plus the standard small-range linear-counting
    * correction (the one transcendental, rounded at 9 digits). */
  private def hllEstimate(b: Int): Column = {
    val m = 1 << b
    val alpha = hllAlpha(m)
    val p2 = math.pow(2.0, 61 - b) // exact power of two
    val n = col("_n")
    val sumInt = col("_sp") + (lit(m.toLong) - n) * lit(1L << (61 - b))
    val e = lit(alpha) * lit(m.toDouble * m) * lit(p2) / sumInt.cast("double")
    val v = lit(m.toLong) - n
    when(e <= lit(2.5 * m) && v > 0,
      round(lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")), 9))
      .otherwise(e)
  }

  /** The standard HLL bias constant (m ≥ 128 branch is the closed
    * form; small m uses Flajolet's tabulated values). */
  def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) as a RELATIONAL
    * artifact: `depth` hash rows × `width` counters, built with one
    * groupBy over (row, bucket) — partial aggregation compresses each
    * map task's contribution to ≤ depth·width counters, so the sketch
    * of an arbitrarily large column ships O(depth·width) per task.
    * Merging sketches of two corpora is `union + groupBy sum` —
    * counter addition is commutative, which is why (unlike
    * Misra-Gries / SpaceSaving, whose summaries depend on merge
    * order) the whole structure is bitwise deterministic and
    * oracle-replayable.
    *
    * bucket_i(x) = h60("cms<seed>|<i>|" + x) mod width — d independent
    * draws from the portable md5 family, no 128-bit arithmetic needed.
    * Returns (row, bucket, c). Point estimate: [[cmsEstimate]] —
    * est(x) = min_i counter[i][bucket_i(x)], with the classic
    * guarantees exact ≤ est and est ≤ exact + εN w.h.p.
    * (ε = e/width, failure prob e^-depth). */
  def cmsBuild(
      df: DataFrame,
      itemCol: String,
      depth: Int,
      width: Int,
      seed: Long = 0L): DataFrame = {
    require(depth >= 1 && width >= 2, s"cms needs depth>=1 width>=2, got $depth x $width")
    // ONE scan of the source — a union of per-row-index scans would
    // read a 100 TB column `depth` times for identical output. All
    // depth buckets come from ONE fused expression per row
    // ([[graft.functions.CmsBucketsExpr]]): the item's UTF-8 bytes
    // render once and each slot digests prefix-then-item into a
    // reused buffer — versus the builtin per-slot chain's concat
    // string, fresh digest, 32-char hex render and base-16 re-parse
    // (which measured 3.1× DuckDB at sf0.1 — round-9/10 verdicts;
    // the fused path closes that to ~parity). posexplode just
    // unpacks the precomputed longs, and partial aggregation still
    // compresses every map task to ≤ depth·width counters.
    df.filter(col(itemCol).isNotNull)
      .select(posexplode(graft.functions.TextHashExpressions.cmsBuckets(
          col(itemCol).cast("string"), depth, width, seed))
        .as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Probe a [[cmsBuild]] sketch: estimated count per probe item =
    * min over the depth rows of that item's counter (absent counter =
    * 0). `probes` needs an `item` column; the sketch is tiny
    * (≤ depth·width rows) so the join broadcasts. */
  def cmsEstimate(
      cms: DataFrame,
      probes: DataFrame,
      depth: Int,
      width: Int,
      seed: Long = 0L): DataFrame = {
    val keyed = probes.select(col("item"),
      posexplode(graft.functions.TextHashExpressions.cmsBuckets(
        col("item").cast("string"), depth, width, seed)).as(Seq("row", "bucket")))
    keyed.join(broadcast(cms), Seq("row", "bucket"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** Per-group priority sampling via the mergeable
    * [[graft.functions.TopKPriorityAgg]]: ONE aggregation (map-side
    * partials ship ≤ k+1 entries per group per task) instead of the
    * window + joins a rank formulation needs — and the same aggregate
    * runs unchanged in a STREAMING groupBy (sample-as-you-ingest;
    * IoStreamingSpec). Emits (keys..., idCol, weight, est_weight) with
    * est_weight = max(w, τ_group), τ from the (k+1)-th priority.
    * ids must be unique within a group. */
  def prioritySampleByKey(
      df: DataFrame,
      keys: Seq[String],
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long): DataFrame = {
    val u = (h60(concat_ws("|", lit(s"ps$seed"), col(idCol).cast("string")))
      .cast("double") + lit(0.5)) / lit(TwoPow60)
    val tops = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.SketchFunctions.topKByPriority(
        col(weightCol).cast("double") / u,
        col(idCol).cast("long"),
        col(weightCol).cast("double"), k + 1).as("_top"))
    tops
      .withColumn("_tau",
        when(size(col("_top")) === k + 1,
          element_at(col("_top"), k + 1).getField("pri")))
      .select((keys.map(col) :+ col("_tau") :+
        explode(slice(col("_top"), 1, k)).as("_e")): _*)
      .select((keys.map(col) :+
        col("_e.id").as(idCol) :+
        col("_e.weight").as("weight") :+
        greatest(col("_e.weight"), coalesce(col("_tau"), col("_e.weight")))
          .as("est_weight")): _*)
  }

  /** Priority sampling (Duffield, Lund, Thorup — JACM 2007): a
    * weight-sensitive sample of k rows supporting unbiased subset-sum
    * estimation. Each row draws u = (h60+0.5)/2⁶⁰ ∈ (0,1) from its id
    * and gets priority w/u; the k highest priorities are kept, and the
    * threshold τ (the (k+1)-th priority) turns the sample into an
    * estimator: est_weight = max(w, τ), with E[Σ est_weight over any
    * subset] = that subset's true Σw. When n ≤ k the sample is the
    * whole input and est_weight = w exactly.
    *
    * Chosen over Efraimidis–Spirakis-style u^(1/w) keys because the
    * priority needs only one IEEE division — no transcendental, so the
    * selection AND the estimator replay bit-exactly in any engine
    * (invariant 1). Returns (idCol, weight, est_weight). */
  def prioritySample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long): DataFrame =
    prioritySampleWithCleanup(df, idCol, weightCol, k, seed)._1

  /** [[prioritySample]] plus an unpersist hook for the pinned
    * (k+1)-row top set (same contract as
    * [[sampleQuantilesWithCleanup]]): call it only after the returned
    * frame is materialized. */
  def prioritySampleWithCleanup(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long): (DataFrame, () => Unit) = {
    val u = (h60(concat_ws("|", lit(s"ps$seed"), col(idCol).cast("string")))
      .cast("double") + lit(0.5)) / lit(TwoPow60)
    val top = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(idCol), col(weightCol).cast("double").as("weight"),
        (col(weightCol).cast("double") / u).as("_pri"))
      .orderBy(col("_pri").desc, col(idCol))
      .limit(k + 1)
      // pin the (k+1)-row top set: the rank + τ branches below each
      // re-evaluate it, and re-evaluation means re-scanning the corpus
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = DistributedRank.rowNumber(
      top, "_pri", ascending = false, tieCols = Seq(idCol), outCol = "_rn")
    val tau = ranked.filter(col("_rn") === (k + 1))
      .select(lit(1).as("_j"), col("_pri").as("_tau"))
    val out = ranked.filter(col("_rn") <= k)
      .withColumn("_j", lit(1))
      .join(broadcast(tau), Seq("_j"), "left")
      .select(col(idCol), col("weight"),
        greatest(col("weight"), coalesce(col("_tau"), col("weight"))).as("est_weight"))
    (out, () => { top.unpersist(); () })
  }
}
