package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group quantiles — the percentile-gate primitive a corpus
  * curation pipeline runs constantly ("drop documents below the p5
  * quality score of their language", "cap at p99 token count").
  *
  * Scale design: group cardinality is this operator's stated use case
  * ("per language"), so one window partition PER GROUP is not enough —
  * at 100 TB one language can be half the corpus and would pin a
  * single sort task. Every public entry point therefore runs the
  * TWO-PASS distributed selection plan ([[selectedGroupRanks]]):
  * a per-(group, value-bucket) histogram pass whose exchange carries
  * only the occupied-bucket counts (map-side combine), then a rank
  * pass over ONLY the buckets that hold a requested rank. No task
  * ever sorts or holds more than one (group, bucket) slice, and the
  * value at rank ceil(q·n) (1-indexed, the discrete lower-nearest
  * definition) is exact and bitwise-reproducible
  * (approx_percentile's sketch is neither), replayable verbatim by an
  * external engine as a plain windowed ROW_NUMBER.
  *
  * Round-17: the engine went from THREE full-data passes to TWO. The
  * old pass 1 computed per-group (min, max) only to define the bucket
  * boundaries; [[fixedBucket]] replaces it with a STATS-FREE
  * order-preserving bucketing (see its scaladoc), so the histogram is
  * the first and only full-data aggregation. exactGroupQuantiles also
  * moved off the full bucketed-rank stitch (which shuffled and sorted
  * EVERY row) onto the same selection plan: the value at a requested
  * rank is invariant to the order among equal values, so tie-break
  * columns are not needed for the OUTPUT even though the old full
  * stitch ranked with them.
  *
  * `numBuckets` — on [[exactGroupQuantiles]], [[medianByGroup]] and
  * [[fiveNumberByGroup]] alike — is the number of buckets PER LN-UNIT
  * of |value| ([[fixedBucket]]'s K), not a total over the group's
  * range: before round 17 it was the total bucket count spread
  * uniformly over the group's (min, max). Results do not depend on it
  * (value-at-rank is bucketing-invariant); only the work split does.
  * A value tuned for the old meaning gives a very different
  * granularity, and the degenerate case moved with it: a group whose
  * values sit inside one ~1/K relative window now lands in one bucket
  * and its target ranks are sorted in one window task.
  */
object Quantiles {

  /** Stats-free order-preserving value bucketing:
    * `floor(ln(|v|)·K)` split by sign, K = buckets per ln-unit.
    *
    * Monotone (v1 < v2 ⇒ bucket(v1) ≤ bucket(v2)) by construction:
    * java.lang.{Math,StrictMath}.log are SEMI-MONOTONIC by their
    * specification (whenever the real function is non-decreasing, so
    * is the approximation), multiplication by a positive constant,
    * floor, least and greatest are monotone, and the three sign
    * regimes are kept disjoint by the ±SignOffset shifts (negatives
    * mirror through the sign: -v grows as v falls, so the negated
    * floor falls as v falls). NaN/±Inf clamp into the extreme buckets
    * BEFORE floor (ANSI: floor(±Inf) overflows LONG) — Spark treats
    * NaN as the largest double in comparisons, so greatest/least park
    * it (and +Inf) in the top bucket and -Inf in the bottom one,
    * exactly where the sort order puts them. ±0.0 compare equal to 0
    * in Spark, so both take the zero bucket.
    *
    * Bucketing only ROUTES rows — the ln value never reaches an
    * output or the oracle, so cross-JVM ulp variance in log cannot
    * change any result (value-at-rank is bucketing-invariant).
    *
    * Granularity: the relative value step per bucket is e^(1/K)
    * (~0.1% at the default K=1024), so data spread over r ln-units
    * occupies ~r·K buckets — a handful of thousands for any
    * quantity/price/score-shaped column, far below the old scheme's
    * data-size-independent bound only in the adversarial full-range
    * case (~1419·K occupied buckets if one group spans every binade;
    * still counts-frame-sized next to the data). Degenerate
    * concentration — a group packed inside one ~1/K relative window —
    * collapses its rows into one bucket and the rank pass sorts that
    * group in one (spilling) window task: the same degenerate tail
    * the old (min,max)-ranged scheme had for value concentration,
    * with its uniform-RANGE assumption replaced by a relative-scale
    * one. Equal values always share a bucket in both schemes. */
  private val SignOffset = 4000000000000000L // |clamped b| ≤ 1e15 < this
  private def fixedBucket(v: Column, bucketsPerLnUnit: Int): Column = {
    val k = lit(bucketsPerLnUnit.toDouble)
    def b(x: Column) = floor(least(greatest(log(x) * k, lit(-1.0e15)), lit(1.0e15)))
    when(v > 0, b(v.cast("double")) + lit(SignOffset))
      .when(v < 0, -b(-v.cast("double")) - lit(SignOffset))
      .otherwise(lit(0L))
  }

  /** One row per group with a column per requested quantile
    * (`p50`, `p95`, … named from `(q*100).round`).
    *
    * The quantile is the VALUE at rank ceil(q·n) under any (value, …)
    * ordering, and that value is invariant to the order among equal
    * values — so the selection engine ranks by value only and never
    * shuffles more than the histogram and the target buckets. */
  def exactGroupQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      qs: Seq[Double],
      numBuckets: Int = 1024): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0), "qs in (0, 1]")
    val ranked = selectedGroupRanks(df, Seq(groupCol), valueCol,
      qs.map(q => (n: Column) => ceil(lit(q) * n)), numBuckets)
    val aggs = qs.map { q =>
      val name = s"p${math.round(q * 100)}"
      max(when(col("_rn") === ceil(lit(q) * col("_n")), col(valueCol))).as(name)
    }
    ranked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** The two-pass distributed selection engine for callers that read
    * values at a FEW known ranks per group (median's two, the box
    * plot's six, describe's three):
    *   1. per-(group, [[fixedBucket]]) HISTOGRAM — the only full-data
    *      aggregation; its exchange carries ≤ occupied-bucket rows per
    *      task (map-side combine), never the data;
    *   2. per-bucket rank offsets, per-group n/min/max (and any caller
    *      `carryAggs`) as WINDOW aggregates over the tiny histogram
    *      frame — one more (histogram-sized) exchange, after which a
    *      row-local filter keeps exactly the buckets holding a
    *      requested rank. Everything derived from the histogram lives
    *      on this ONE linear chain: the histogram subtree is
    *      referenced exactly once, so the engine cannot silently
    *      re-execute the full-data pass through DAG fan-out (the r16
    *      shape computed stats/offsets/targets as separate frames over
    *      the same aggregation and paid a measured THIRD full scan
    *      where exchange reuse didn't fire);
    *   3. rank ONLY the target buckets' rows — everything else is
    *      dropped at the scan's broadcast join on (group, bucket).
    * At 100 TB that is two pruned column scans with no full-data
    * exchange, vs the full-fact-table shuffle a windowed rank pays.
    * `rankFns` build each target rank (a LONG column) from the
    * group's `n`.
    *
    * Returns the target buckets' rows as (groups..., valueCol, _rn,
    * _n, _mn, _mx, carryAggs...): `_rn` the exact per-group row number
    * (ordered by value), `_n` the group size, `_mn`/`_mx` the group
    * min/max as double.
    *
    * `bucketAggs` are extra aggregations computed per (group, bucket)
    * in the histogram pass; `carryAggs` are (name, aggregate) pairs
    * the engine evaluates per GROUP as whole-partition window
    * aggregates over the histogram (e.g. re-summing a bucketAgg
    * partial) and carries onto every returned row. Associative exact
    * aggregates only (decimal sums, count, min/max) — the two-level
    * split must be value-identical to a direct per-group aggregation.
    * This lets describe() fuse its moment pass into the engine instead
    * of paying a third full scan. */
  private[graft] def selectedGroupRanks(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      rankFns: Seq[Column => Column], numBuckets: Int,
      bucketAggs: Seq[Column] = Nil,
      carryAggs: Seq[(String, Column)] = Nil): DataFrame = {
    val gs = groupCols.map(col)
    // prune to the columns the rank needs BEFORE any exchange: callers
    // pass full frames (subtractColumnMedian, boxData), and shuffling
    // every column to produce a per-group scalar would dominate the
    // cost at scale
    val data = df
      .select((groupCols :+ valueCol).distinct.map(col): _*)
      .filter(col(valueCol).isNotNull)
    val bucket = fixedBucket(col(valueCol), numBuckets)
    // pass 1: the histogram — per (group, bucket) count + raw min/max
    // (+ caller partials); the only aggregation that sees every row
    val aggsA = Seq(
      count(lit(1)).as("_bn"),
      min(col(valueCol)).as("_bmn"),
      max(col(valueCol)).as("_bmx")) ++ bucketAggs
    val counts = data.groupBy((gs :+ bucket.as("_rb")): _*)
      .agg(aggsA.head, aggsA.tail: _*)
    // per-group offsets AND stats as window aggregates over the
    // histogram — same partition key, ONE exchange, no second frame:
    // sum of bucket counts == count, min of bucket mins == min, so
    // the old dedicated stats pass falls out of the same tiny pass
    val wGrp = Window.partitionBy(gs: _*)
    val wOrd = wGrp.orderBy(col("_rb"))
    val carried = Seq(
      "_off" -> coalesce(
        sum(col("_bn")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)),
      "_n" -> sum(col("_bn")).over(wGrp),
      "_mn" -> min(col("_bmn")).over(wGrp).cast("double"),
      "_mx" -> max(col("_bmx")).over(wGrp).cast("double")) ++
      carryAggs.map { case (name, agg) => name -> agg.over(wGrp) }
    val full = carried.foldLeft(counts) { case (d, (name, c)) => d.withColumn(name, c) }
    // keep exactly the buckets that hold a requested rank — a
    // row-local predicate over the windowed histogram
    val holdsTarget = rankFns
      .map(f => f(col("_n")) > col("_off") && f(col("_n")) <= col("_off") + col("_bn"))
      .reduce(_ || _)
    val needed = full.filter(holdsTarget)
      .select((gs :+ col("_rb") :+ col("_off") :+ col("_n") :+
        col("_mn") :+ col("_mx")) ++ carryAggs.map { case (n, _) => col(n) }: _*)
    // pass 2: rank only the target buckets' rows. NULL-SAFE group
    // match: groupBy keeps a NULL group — and so do the SQL mirrors'
    // GROUP BYs — so a plain equi-join would silently drop every row
    // of a NULL-keyed group.
    val selected = nullSafeBroadcastJoin(
      data.withColumn("_rb", bucket), needed, groupCols :+ "_rb")
    val wBkt = Window.partitionBy((gs :+ col("_rb")): _*).orderBy(col(valueCol))
    selected
      .withColumn("_rn", col("_off") + row_number().over(wBkt))
      .select((gs :+ col(valueCol) :+ col("_rn") :+ col("_n") :+
        col("_mn") :+ col("_mx")) ++ carryAggs.map { case (n, _) => col(n) }: _*)
  }

  /** Broadcast inner join that matches NULL keys to NULL keys
    * (EqualNullSafe is a valid hash-join key, so this stays a
    * BroadcastHashJoin). Right-side key columns are dropped. */
  private def nullSafeBroadcastJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val renamed = keys.foldLeft(right)((d, k) => d.withColumnRenamed(k, s"_r_$k"))
    val cond = keys.map(k => left(k) <=> renamed(s"_r_$k")).reduce(_ && _)
    left.join(broadcast(renamed), cond).drop(keys.map(k => s"_r_$k"): _*)
  }

  /** Exact INTERPOLATING median per group (pandas/DuckDB `MEDIAN`
    * semantics: even n averages the two middle values) on the same
    * bucketed-rank engine — one row per group, `(group, _median)`.
    *
    * This exists because Spark's `median`/`percentile` aggregate
    * buffers every value of a group in the final aggregation task
    * (ObjectHashAggregate): exact but O(group) memory on ONE task —
    * at 100 TB a hot group OOMs the executor. Here ranks come from the
    * (group, value-bucket) two-level pattern, so no task ever sorts or
    * holds more than a bucket, and the median is the exact average of
    * the rank-⌊(n+1)/2⌋ and rank-⌈(n+1)/2⌉ values (odd n: same row,
    * (v+v)/2 = v bitwise). Ties need no tie-break columns: the VALUE
    * at a given rank is invariant to the order among equal values.
    * The (lo+hi)/2 tree must be mirrored verbatim in oracle SQL —
    * /2.0 on doubles is exact, so both engines agree bitwise. */
  def medianByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      numBuckets: Int = 1024,
      outCol: String = "_median"): DataFrame = {
    // selection plan, not a full rank: only the two median ranks'
    // buckets are ever shuffled (see selectedGroupRanks)
    def halfOf(n: Column) = (n + lit(1L)).cast("double") / lit(2.0)
    val ranked = selectedGroupRanks(df, Seq(groupCol), valueCol,
      Seq(n => floor(halfOf(n)).cast("long"), n => ceil(halfOf(n)).cast("long")),
      numBuckets)
    val half = halfOf(col("_n"))
    val g = ranked.groupBy(col(groupCol)).agg(
      max(when(col("_rn") === floor(half), col(valueCol).cast("double"))).as("_l"),
      max(when(col("_rn") === ceil(half), col(valueCol).cast("double"))).as("_h"),
      max(col("_n")).as("_gn"))
    // odd n: both ranks select the SAME row — return it directly
    // rather than (v+v)/2, which overflows to Infinity for
    // |v| > Double.MaxValue/2 (the old median() returned v exactly)
    val halfOut = (col("_gn") + lit(1L)).cast("double") / lit(2.0)
    g.select(col(groupCol),
      when(floor(halfOut) === ceil(halfOut), col("_l"))
        .otherwise((col("_l") + col("_h")) / lit(2.0)).as(outCol))
  }

  /** Per-group five-number box-plot summary `(groups..., n, lo, q1,
    * med, q3, hi)` with LINEARLY INTERPOLATED quartiles (numpy/pandas
    * `quantile` default: position 1+(n−1)·q, fractional positions
    * interpolate v_lo + (v_hi − v_lo)·frac) — on the bucketed-rank
    * engine for the same reason as [[medianByGroup]]: Spark's
    * `percentile`/`median` aggregates buffer a whole group in the
    * final task, and a box plot's groups are routinely corpus-scale.
    * Groups whose values are ALL null emit no row (a box plot draws
    * nothing for them). The interpolation tree must be mirrored
    * verbatim in oracle SQL — see [[fiveNumberOracleSql]]. */
  def fiveNumberByGroup(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      numBuckets: Int = 1024): DataFrame = {
    // selection plan: only the six quartile ranks' buckets are ranked;
    // lo/hi/n ride in from the histogram pass (min(v) cast double ==
    // cast-then-min — the double cast is monotone)
    def posOf(n: Column, q: Double) = lit(1.0) + (n.cast("double") - lit(1.0)) * lit(q)
    val quartiles = Seq("q1" -> 0.25, "med" -> 0.5, "q3" -> 0.75)
    val ranked = selectedGroupRanks(df, groupCols, valueCol,
      quartiles.flatMap { case (_, q) =>
        Seq[Column => Column](
          n => floor(posOf(n, q)).cast("long"),
          n => ceil(posOf(n, q)).cast("long"))
      }, numBuckets)
    def pos(q: Double) = posOf(col("_n"), q)
    val aggs = quartiles.flatMap { case (name, q) =>
      Seq(
        max(when(col("_rn") === floor(pos(q)), col(valueCol).cast("double")))
          .as(s"_l_$name"),
        max(when(col("_rn") === ceil(pos(q)), col(valueCol).cast("double")))
          .as(s"_h_$name"))
    } ++ Seq(
      max(col("_n")).as("n"),
      max(col("_mn")).as("lo"),
      max(col("_mx")).as("hi"))
    val g = ranked.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    def posOut(q: Double) =
      lit(1.0) + (col("n").cast("double") - lit(1.0)) * lit(q)
    val outs = quartiles.map { case (name, q) =>
      (col(s"_l_$name") + (col(s"_h_$name") - col(s"_l_$name")) *
        (posOut(q) - floor(posOut(q)).cast("double"))).as(name)
    }
    g.select((groupCols.map(col) :+ col("n") :+ col("lo")) ++
      outs :+ col("hi"): _*)
  }

  /** The DuckDB mirror of [[fiveNumberByGroup]] (same rank selection,
    * same interpolation tree; q injected as CAST('q' AS DOUBLE) so the
    * products are double×double on both engines). */
  def fiveNumberOracleSql(
      table: String, groupCols: Seq[String], valueCol: String): String = {
    val gs = groupCols.mkString(", ")
    def posSql(q: String) =
      s"(1 + (CAST(n AS DOUBLE) - 1) * CAST('$q' AS DOUBLE))"
    val quartiles = Seq("q1" -> "0.25", "med" -> "0.5", "q3" -> "0.75")
    val caseAggs = quartiles.map { case (name, q) =>
      s"""MAX(CASE WHEN rn = FLOOR(${posSql(q)})
              THEN CAST($valueCol AS DOUBLE) END) AS l_$name,
          MAX(CASE WHEN rn = CEIL(${posSql(q)})
              THEN CAST($valueCol AS DOUBLE) END) AS h_$name"""
    }.mkString(",\n          ")
    val outs = quartiles.map { case (name, q) =>
      s"l_$name + (h_$name - l_$name) * (${posSql(q)} - FLOOR(${posSql(q)})) AS $name"
    }.mkString(",\n        ")
    s"""
      WITH mb AS (
        SELECT $gs, $valueCol,
          ROW_NUMBER() OVER (PARTITION BY $gs ORDER BY $valueCol) AS rn,
          COUNT(*) OVER (PARTITION BY $gs) AS n
        FROM $table WHERE $valueCol IS NOT NULL),
      g AS (
        SELECT $gs, CAST(MAX(n) AS BIGINT) AS n,
          MIN(CAST($valueCol AS DOUBLE)) AS lo,
          MAX(CAST($valueCol AS DOUBLE)) AS hi,
          $caseAggs
        FROM mb GROUP BY $gs)
      SELECT $gs, n, lo,
        $outs,
        hi
      FROM g"""
  }

  /** The DuckDB mirror of [[medianByGroup]] (same two-rank selection,
    * same (lo+hi)/2 tree) — one row per group: `(groupCol, outCol)`. */
  def medianOracleSql(
      table: String, groupCol: String, valueCol: String,
      outCol: String = "_median"): String = s"""
      WITH mb AS (
        SELECT $groupCol, $valueCol,
          ROW_NUMBER() OVER (PARTITION BY $groupCol ORDER BY $valueCol) AS rn,
          COUNT(*) OVER (PARTITION BY $groupCol) AS n
        FROM $table WHERE $valueCol IS NOT NULL),
      mg AS (
        SELECT $groupCol, MAX(n) AS n,
          MAX(CASE WHEN rn = FLOOR((CAST(n AS DOUBLE) + 1) / 2)
                THEN CAST($valueCol AS DOUBLE) END) AS l,
          MAX(CASE WHEN rn = CEIL((CAST(n AS DOUBLE) + 1) / 2)
                THEN CAST($valueCol AS DOUBLE) END) AS h
        FROM mb GROUP BY $groupCol)
      SELECT $groupCol,
        CASE WHEN FLOOR((CAST(n AS DOUBLE) + 1) / 2)
                = CEIL((CAST(n AS DOUBLE) + 1) / 2)
             THEN l ELSE (l + h) / 2 END AS $outCol
      FROM mg"""

  /** The matching DuckDB SQL (same rank selection; ranks are selected
    * by value, so the mirror's tie order is irrelevant to the output)
    * — kept adjacent so the trees stay structurally identical. */
  def oracleSql(
      table: String, groupCol: String, valueCol: String,
      qs: Seq[Double]): String = {
    val aggs = qs.map { q =>
      val name = s"p${math.round(q * 100)}"
      // CAST('..' AS DOUBLE) on BOTH factors: a bare 0.95 is DECIMAL in
      // DuckDB and 0.95·n then differs from Spark's double product at
      // exact-integer boundaries (double 0.95·20 = 19.0000…04 → CEIL
      // 20, decimal → 19). Identical IEEE trees or nothing.
      s"MAX(CASE WHEN rn = CEIL(CAST('$q' AS DOUBLE) * CAST(n AS DOUBLE)) THEN $valueCol END) AS $name"
    }.mkString(",\n        ")
    s"""
      WITH r AS (
        SELECT $groupCol, $valueCol,
          ROW_NUMBER() OVER (PARTITION BY $groupCol ORDER BY $valueCol) AS rn,
          COUNT(*) OVER (PARTITION BY $groupCol) AS n
        FROM $table WHERE $valueCol IS NOT NULL)
      SELECT $groupCol,
        $aggs
      FROM r GROUP BY $groupCol"""
  }
}
