package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHashExpressions

/** Explicit Bloom-filter semi-join pruning — the 100 TB pattern for a
  * selective dimension that is too big to broadcast: build a compact
  * bit array from the dimension keys once, filter the fact side AT THE
  * SCAN (before any shuffle), then run the exact join to remove the
  * Bloom's false positives. The final result is IDENTICAL to the plain
  * join (false positives are the only error mode and the exact join
  * removes them; false negatives are impossible), so the operator is
  * oracled against the un-pruned SQL — while the shuffle ships only
  * `match_rate + fp_rate` of the fact table instead of all of it.
  *
  * Relationship to Spark's own runtime filter
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`,
  * InjectRuntimeFilter): Catalyst injects a BloomFilterAggregate
  * subquery only under size/selectivity heuristics it can estimate,
  * and its sketch is engine-private. This operator is the explicit,
  * deterministic twin — the md5-top60 family (INVARIANTS.md §1) makes
  * the pruned plan a pure function of the dimension key SET, and the
  * pipeline author decides where it pays (e.g. a curated-id anti set,
  * a contaminated-document list) instead of hoping the optimizer sees
  * it. Both can coexist: this filter composes as a plain predicate.
  *
  * Scale contracts:
  *  - build is one distinct-positions aggregation over the dimension
  *    (map-side partials ship ≤ nBits longs per task) and a bounded
  *    driver collect of ≤ nBits set positions packed to nBits/64
  *    longs (2²⁰ bits = 16 KiB; the ≤ 2²⁷-bit cap below keeps the
  *    worst case at 16 MiB — the same order as a broadcast hash
  *    relation for the dim, but shipped once per executor inside the
  *    plan's referenced objects, not per task);
  *  - probe is one codegen'd expression per fact row with early exit
  *    (a non-member pays ~1 md5, not nHashes) that pushes PAST the
  *    parquet scan into the first stage — zero shuffle;
  *  - sizing: for target false-positive rate ε at n keys, use
  *    nBits ≈ 1.44·n·log2(1/ε) and nHashes ≈ 0.693·nBits/n (the
  *    classic optimum); [[Filter.fpRate]] reports the realized rate.
  */
object BloomPrune {

  /** Hard cap on the packed filter size (2²⁷ bits = 16 MiB of words):
    * past this a broadcast join of the keys themselves is the better
    * plan and the driver copy stops being "bounded". */
  val MaxBits: Int = 1 << 27

  /** Dim-key count past which [[semiJoin]]'s AUTO hint forces
    * `shuffle_hash` on the false-positive-removal join's dim side.
    * Measured regime (BENCH_NOTES "Bloom semi-join dim-side regime
    * A/B", sf100's 4M filtered dim keys,
    * content-checksum-equal, 3 interleaved samples): shuffle_hash
    * 18.3 s vs planner-default SMJ 21.5 s vs merge 19.9 s — the SMJ
    * sorts the pruned fact stream for no benefit once the dim has
    * outgrown the broadcast threshold. Below ~10 MB of dim keys the
    * planner's broadcast is already right and the auto hint stays
    * out of the way. The band between the broadcast threshold and 1M
    * keys is unmeasured; 1M is the conservative end (hint only where
    * the win is proven). */
  val ShuffleHashDimKeys: Long = 1000000L

  /** Upper key-count bound on the AUTO shuffle_hash hint (ADVICE r16):
    * a HINTED shuffled-hash join bypasses the planner's
    * canBuildLocalHashMap size guard, and its per-partition build side
    * cannot spill — so the hint must not extrapolate arbitrarily far
    * past the measured 4M-key regime. 64× the lower threshold keeps
    * the per-partition build bounded (64M keys over the production
    * profile's initial partitions is sub-million keys per task);
    * beyond it the planner's own SMJ choice stands. */
  val MaxAutoShuffleHashKeys: Long = 64L * ShuffleHashDimKeys

  /** Sentinel for [[semiJoin]]'s `dimHint`: pick the join strategy
    * adaptively from the built filter's own cardinality estimate —
    * no extra job, no caller-side count. */
  val AutoDimHint: String = "auto"

  /** A built filter: the packed bit words plus the knobs that define
    * the hash family. `longKeys` selects the family: integral keys
    * take the SplitMix64 path (~1 ns/position — the probe runs once
    * per FACT row, so this is the operator's hot loop; the md5 path
    * measured ~+3 s over the sf10 lineitem scan), everything else the
    * md5-string path. Build and probe must use the same family —
    * [[build]] sets it from the key's type, and `contains` follows.
    * Serializable — ships to executors inside the probe expression's
    * referenced objects. */
  final case class Filter(
      nHashes: Int, nBits: Int, seed: Long, words: Array[Long],
      longKeys: Boolean = false)
      extends Serializable {
    /** Number of set bits (drives the realized false-positive rate). */
    def bitsSet: Long = words.foldLeft(0L)((a, w) => a + java.lang.Long.bitCount(w))
    /** Realized false-positive probability for a uniform non-member:
      * (bitsSet/nBits)^nHashes. */
    def fpRate: Double = math.pow(bitsSet.toDouble / nBits, nHashes)
    /** Standard Bloom cardinality estimate of the distinct keys
      * inserted: −(m/k)·ln(1 − bitsSet/m). Free — derived from the
      * packed words, no extra Spark job. Caveat: an UNDERSIZED filter
      * under-estimates as it loads up, and at FULL saturation
      * (bitsSet == nBits) the formula diverges to +Infinity — so the
      * estimate is only trustworthy while the realized fpRate stays
      * sane. [[estimateTrustworthy]] is that guard; callers making
      * planning decisions (the auto hint) must check it, or a
      * saturated 64-bit filter would read as "billions of keys". */
    def estimatedKeys: Double =
      -(nBits.toDouble / nHashes) * math.log1p(-(bitsSet.toDouble / nBits))
    /** Whether [[estimatedKeys]] is usable for planning decisions:
      * false once the filter is loaded past fpRate 0.5 (heading to the
      * +Inf divergence at full saturation — ADVICE r16), where the
      * sizing contract was violated and the estimate says nothing
      * about the true cardinality. */
    def estimateTrustworthy: Boolean =
      bitsSet < nBits && fpRate <= 0.5
    /** Membership probe column (codegen'd, early-exit). Null keys
      * yield null (filtered out by a WHERE, matching join semantics). */
    def contains(key: Column): Column =
      if (longKeys)
        TextHashExpressions.bloomContainsLong(key.cast("long"), nHashes, nBits, seed, words)
      else
        TextHashExpressions.bloomContains(key.cast("string"), nHashes, nBits, seed, words)
  }

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
         _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** [[AutoDimHint]] resolution: the auto hint only fires inside the
    * band where it is both trusted and measured. An untrustworthy
    * (saturated) estimate diverges to +Inf (ADVICE r16 — it would
    * FORCE shuffle_hash, whose hinted build side bypasses
    * canBuildLocalHashMap and cannot spill), and past
    * [[MaxAutoShuffleHashKeys]] the regime is unmeasured — both cases
    * degrade to the planner's own choice. */
  private[ops] def resolveAutoHint(f: Filter): Option[String] =
    if (f.estimateTrustworthy &&
        f.estimatedKeys > ShuffleHashDimKeys.toDouble &&
        f.estimatedKeys <= MaxAutoShuffleHashKeys.toDouble) Some("shuffle_hash")
    else None

  /** Build a [[Filter]] from a dimension key column: ONE aggregation
    * that packs positions into 64-bit words DISTRIBUTED —
    * `groupBy(p DIV 64).agg(bit_or(1 << p%64))` — so map-side partials
    * compress every task to ≤ nBits/64 rows and the driver collects at
    * most nBits/64 (word, mask) pairs. (The first version collected
    * the raw DISTINCT positions: up to nBits ≈ nHashes·|dim| rows —
    * at sf100 that was a 12M-row driver collect per execution and the
    * whole operator went super-linear; caught by the decade run,
    * BENCH_NOTES round-14.) */
  def build(
      dim: DataFrame,
      keyCol: String,
      nBits: Int,
      nHashes: Int = 3,
      seed: Long = 0L): Filter = {
    require(nBits >= 64 && nBits % 64 == 0 && nBits <= MaxBits,
      s"nBits must be a multiple of 64 in [64, $MaxBits], got $nBits")
    require(nHashes >= 1 && nHashes <= 16, s"nHashes must be in [1,16], got $nHashes")
    val longKeys = isIntegral(dim.schema(keyCol).dataType)
    val posCol =
      if (longKeys)
        TextHashExpressions.bloomPositionsLong(
          col(keyCol).cast("long"), nHashes, nBits, seed)
      else
        TextHashExpressions.cmsBuckets(
          col(keyCol).cast("string"), nHashes, nBits, seed)
    val packed = dim
      .filter(col(keyCol).isNotNull)
      .select(explode(posCol).as("p"))
      .select(
        expr("CAST(p DIV 64 AS INT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("m"))
      .groupBy(col("w"))
      .agg(expr("bit_or(m)").as("m"))
      .collect()
    val words = new Array[Long](nBits / 64)
    packed.foreach(r => words(r.getInt(0)) = r.getLong(1))
    Filter(nHashes, nBits, seed, words, longKeys)
  }

  /** Exact semi join with a Bloom pre-filter on the fact side:
    * `fact LEFT SEMI JOIN dim ON fact.factKey = dim.dimKey`, with the
    * Bloom predicate pruning fact rows before the join's shuffle.
    * Result ≡ the plain semi join (the join removes false positives).
    * The dim plan is evaluated twice (once to build, once to join) —
    * cache it upstream if it is itself expensive.
    *
    * `dimHint`: physical-strategy hint for the false-positive-removal
    * join's DIM side, for the regime where the dim outgrows the
    * broadcast threshold (sf100: 4M filtered keys → Spark picks an
    * SMJ that SORTS the pruned fact side; the r14 decade run measured
    * that tail super-linear, exponent 1.21). "shuffle_hash" builds a
    * hash relation from the dim instead — no fact-side sort; the
    * pruned fact stream pays one hash probe per row. The DEFAULT
    * ([[AutoDimHint]]) resolves adaptively from the built filter's
    * own cardinality estimate — `shuffle_hash` past
    * [[ShuffleHashDimKeys]] (the measured-fastest regime, evidence in
    * its scaladoc), no hint below it (the planner's broadcast
    * is already right there). Pass None to force Catalyst's choice at
    * every scale, or Some(hint) to force a strategy. */
  def semiJoin(
      fact: DataFrame,
      factKey: String,
      dim: DataFrame,
      dimKey: String,
      nBits: Int,
      nHashes: Int = 3,
      seed: Long = 0L,
      dimHint: Option[String] = Some(AutoDimHint)): DataFrame = {
    val f = build(dim.select(col(dimKey)), dimKey, nBits, nHashes, seed)
    val resolvedHint = dimHint match {
      case Some(AutoDimHint) => resolveAutoHint(f)
      case other => other
    }
    val dimSide = resolvedHint.fold(dim)(dim.hint(_))
    fact
      .filter(col(factKey).isNotNull && f.contains(col(factKey)))
      .join(dimSide, fact(factKey) === dimSide(dimKey), "left_semi")
  }
}
