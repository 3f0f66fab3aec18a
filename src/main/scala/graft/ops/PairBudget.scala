package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Global output budget for blocked pair-enumeration operators
  * (MinHash-LSH bands, SimHash pigeonhole blocks, sign-LSH buckets,
  * SemDeDup cells — graft.text.Dedup / graft.sim.Similarity).
  *
  * The per-bucket `maxBucketRows` caps bound SKEW (one task doing n²
  * work) but not the AGGREGATE Σ n·(n-1)/2 pair volume: a
  * dup-saturated corpus can emit quadratically many verify pairs from
  * buckets that are each individually under the cap. The budget turns
  * the aggregate bound into a second, data-derived per-bucket size
  * cap:
  *
  *   t = the largest bucket size such that all buckets of size ≤ t
  *       together contribute at most `maxPairs` candidate pairs
  *
  * so buckets enumerate pairs smallest-first until the budget is
  * spent, and every bucket larger than t degrades to one
  * representative cluster (min id) — linear output — instead of
  * pair enumeration. Smallest-first is the right greedy order for a
  * near-dup pipeline: small buckets are where pair-level verification
  * (hamming / jaccard / cosine) adds information; a 10⁶-member bucket
  * is near-identical content by construction and its n²/2 pairs would
  * all say "duplicate" anyway.
  *
  * Determinism: `t` is a pure function of (bucket-size histogram,
  * maxPairs) — no sampling, no ordering sensitivity — so a bounded
  * run is reproducible and its effective cap can be recorded and
  * replayed as an oracle literal (Registry.oracleGen pattern).
  *
  * Scale: the decision runs on the SIZE HISTOGRAM (one row per
  * distinct bucket size), not on the buckets. Distinct sizes are
  * bounded by the largest bucket's size and in practice by a few
  * thousand even at 10¹¹ rows (heavy-tail sizes are sparse), so the
  * driver collect is a metadata-sized aggregate of an aggregate, and
  * the driver sorts it.
  *
  * The same collect also yields the LARGEST bucket, so the decision
  * is made once, on the driver: the cap prune and the representative
  * clusters are planned only when some bucket exceeds the effective
  * cap (min of the caller's skew cap and t). Otherwise the prune
  * would remove nothing and the representatives would be empty, so
  * [[PairBudget.bounded]] plans the pair join unpruned and returns
  * an empty cluster frame that the optimizer folds into an empty
  * local relation (no job, no plan).
  */
/** Result of a budgeted pair-enumeration operator.
  *
  * @param pairs    verified pairs from buckets within the effective
  *                 size cap — at most ~maxPairs candidates entered
  *                 verification
  * @param clusters (id, rep_id) representative assignment for members
  *                 of buckets ABOVE the cap (linear, candidate-level:
  *                 these bypassed pair verification; see
  *                 [[PairBudget.representatives]])
  * @param sizeCap  the effective per-bucket cap actually applied
  *                 (min of the caller's skew cap and the budget-derived
  *                 cap) — deterministic, so oracle-replayable
  * @param cleanup  unpersists the operator's internal working sets
  *                 (banded/blocked/gram membership triples). Call ONLY
  *                 after BOTH output frames are materialized — the
  *                 plans read the caches at execution. Default no-op;
  *                 convenience callers may leave the blocks to the
  *                 session's LRU (MEMORY_AND_DISK is evictable).
  */
final case class BoundedPairs(
    pairs: DataFrame, clusters: DataFrame, sizeCap: Long,
    cleanup: () => Unit = () => ())

object PairBudget {

  /** Pairs contributed by one bucket of n members: n·(n-1)/2, as a
    * decimal column (a long would overflow at n ≈ 4.3e9; the SUM over
    * buckets overflows far earlier). */
  private def pairsOf(n: Column): Column =
    (n.cast("decimal(38,0)") * (n - 1).cast("decimal(38,0)")) / 2

  /** Above this cap the cap-prune uses the ANTI-broadcast form: the
    * over-cap bucket set is bounded by triples/cap, so a cap of 4096
    * keeps the broadcast ≤ ~30 MB even at 10¹⁰ membership triples. */
  val AntiBroadcastMinCap = 4096L

  /** Cap-prune a bucket-membership frame before its quadratic
    * self-join, choosing the prune shape for the regime:
    *
    *   - LARGE cap (≥ [[AntiBroadcastMinCap]], the skew-relevant
    *     regime — a surviving bucket can hold up to cap members and
    *     run cap² comparisons): LEFT ANTI against the OVER-cap bucket
    *     set, broadcast (tiny: ≤ triples/cap rows by construction).
    *     Besides dropping a full-corpus sort-merge, this leaves the
    *     membership stream's partitioning unconstrained so the
    *     downstream self-join plans its own ENSURE_REQUIREMENTS
    *     exchanges — the one join shape AQE's OptimizeSkewedJoin can
    *     split when a near-cap bucket concentrates its n² work in one
    *     task (SkewSpec / `PlanAudit --skew-check`; the semi form
    *     fuses the join onto the prune's exchange and is invisible to
    *     the skew rule — measured, not assumed).
    *   - SMALL cap (budget-collapsed regimes): LEFT SEMI against the
    *     under-cap set. Here per-bucket work is ≤ cap² ≈ nothing, skew
    *     is moot, and the over-cap set can be huge (cap=1 makes it
    *     every non-singleton bucket) — broadcasting it would be the
    *     real risk.
    *   - `Long.MaxValue` cap: no prune at all.
    *
    * Result-identical in all three shapes (ok = ≤cap and bad = >cap
    * partition the bucket space). */
  def capPrune(
      members: DataFrame, sizes: DataFrame, nCol: String,
      keys: Seq[String], cap: Long): DataFrame =
    if (cap == Long.MaxValue) members
    else if (cap >= AntiBroadcastMinCap)
      members.join(
        broadcast(sizes.filter(col(nCol) > cap).select(keys.map(col): _*)),
        keys, "left_anti")
    else
      members.join(
        sizes.filter(col(nCol) <= cap).select(keys.map(col): _*),
        keys, "left_semi")

  /** One budget decision: the budget-derived cap `t` and the largest
    * bucket size, both from one histogram collect.
    *
    * @param cap     largest t with Σ_{size ≤ t} pairs ≤ maxPairs; 1 when
    *                even the size-2 buckets alone blow the budget (no
    *                pairs at all); Long.MaxValue when nothing binds (so
    *                callers can `min(maxBucketRows, cap)`
    *                unconditionally)
    * @param largest the largest bucket size (0 with no buckets)
    */
  final case class Decision(cap: Long, largest: Long)

  /** The budget decision for a bucket-size frame (see object doc).
    *
    * @param bucketSizes one row per bucket, with the member count in
    *                    `nCol` (any other columns are ignored)
    * @param maxPairs    aggregate candidate-pair budget, > 0
    */
  def sizeCap(bucketSizes: DataFrame, nCol: String, maxPairs: Long): Decision = {
    require(maxPairs > 0, s"maxPairs must be positive ($maxPairs)")
    // histogram: (bucket size, total pairs contributed by that size),
    // sorted on the driver — it is metadata-sized. Singletons stay in
    // (they contribute 0 pairs) so `largest` covers every bucket.
    val hist = bucketSizes
      .groupBy(col(nCol).as("_size"))
      .agg(sum(pairsOf(col(nCol))).as("_pairs"))
      .collect()
      .map(r => (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger)))
      .sortBy(_._1)
    val over = hist.map(_._2).scanLeft(BigInt(0))(_ + _).tail
      .indexWhere(_ > BigInt(maxPairs))
    Decision(
      if (over < 0) Long.MaxValue else math.max(hist(over)._1 - 1, 1L),
      hist.lastOption.fold(0L)(_._1))
  }

  /** A bounded operator's output from its one budget decision. The
    * effective cap is the smaller of the caller's skew cap and the
    * budget cap. When the largest bucket exceeds it, `pairJoin` prunes
    * at it and `clusters` builds the representatives; otherwise
    * `pairJoin` runs with `Long.MaxValue` ([[capPrune]]'s no-prune
    * branch) and the clusters are an empty (id, rep_id) frame over
    * `members` — result-identical, since no bucket is over the cap.
    *
    * @param members  bucket-membership rows carrying `idCol`
    * @param skewCap  the caller's per-bucket cap (`maxBucketRows`)
    */
  def bounded(
      members: DataFrame, idCol: String, decision: Decision, skewCap: Long,
      pairJoin: Long => DataFrame, clusters: Long => DataFrame,
      cleanup: () => Unit = () => ()): BoundedPairs = {
    val cap = math.min(skewCap, decision.cap)
    if (decision.largest > cap) BoundedPairs(pairJoin(cap), clusters(cap), cap, cleanup)
    else BoundedPairs(pairJoin(Long.MaxValue),
      members.select(col(idCol), col(idCol).as("rep_id")).where(lit(false)), cap, cleanup)
  }

  /** Representative clusters for the buckets a cap excludes from pair
    * enumeration: each member of an over-cap bucket is assigned the
    * MIN id in that bucket; a member of several over-cap buckets keeps
    * the smallest representative (deterministic regardless of
    * schedule). Output: one row per distinct member, (id, rep_id) —
    * linear in members, never quadratic. Includes the representative
    * itself (rep_id == id) so downstream "keep rep, drop rest" is a
    * plain `filter(id =!= rep_id)`.
    *
    * @param buckets     (bucketCols..., idCol) membership rows
    * @param bucketCols  the bucket key
    */
  def representatives(buckets: DataFrame, bucketCols: Seq[String], idCol: String,
      sizeCap: Long): DataFrame = {
    val key = bucketCols.map(col)
    val over = buckets.groupBy(key: _*)
      .agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") > sizeCap)
      .select(key: _*)
    representativesWith(buckets, bucketCols, idCol, over)
  }

  /** [[representatives]] with a PRECOMPUTED over-cap bucket-key set.
    *
    * A caller holding a persisted bucket-size histogram (the span
    * family memoizes gram→df for the budget decision anyway) passes
    * the filtered keys directly and skips re-deriving them — which in
    * the generic form is a full corpus-scale groupBy over the
    * membership stream, one of FOUR stream-scale shuffles that plan
    * stacked into a single job (the sf100 smoke exhausted local disk
    * exactly there while the pair route fit comfortably). The
    * remaining shuffles touch only the over-cap slice. */
  def representativesWith(buckets: DataFrame, bucketCols: Seq[String],
      idCol: String, overKeys: DataFrame): DataFrame = {
    val key = bucketCols.map(col)
    val members = buckets.join(overKeys, bucketCols, "left_semi")
    val reps = members.groupBy(key: _*).agg(min(col(idCol)).as("rep_id"))
    members.join(reps, bucketCols)
      .groupBy(col(idCol))
      .agg(min(col("rep_id")).as("rep_id"))
  }
}
