package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{BloomPrune, TemporalJoin}
import graft.stats.Moments
import graft.stats.Moments.{Sql => MS}

/** Temporal-join and multi-dimensional-aggregation operators —
  * extended surface beyond the reference (which has only label-lookup
  * joins, SURVEY §2.4, and flat groupBy aggregation, §2.5).
  *
  * `ts` is nanos-since-epoch (long) on the Spark side
  * (nanosAsLong=true); the oracles use `epoch_ns(ts)`.
  */
object JoinQueries extends QueryProvider {

  private val DAY_US = 86400000000L

  // ---- as-of join: most recent prior 'view' for each 'purchase',
  //      per user. One shuffle (union + keyed window), no per-row
  //      subquery; right side pre-aggregated to unique (user, ts). ----
  private val qAsOf = Q(
    "q_asof_join",
    (s, d) => {
      // µs-truncated time axis on both sides: DuckDB reads the
      // TIMESTAMP(NANOS) parquet at µs precision, so nanos are not
      // oracle-comparable (cf. INVARIANTS.md §4).
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("value")).as("view_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      TemporalJoin.asOf(purchases, views, "user_id", "ts_us", Seq("view_value"))
        .select(col("event_id"), col("user_id"),
          col("asof_ts_us").as("view_ts"), col("asof_view_value").as("view_value"))
    },
    Some("""
      WITH v AS (
        SELECT user_id, epoch_us(ts) AS vts, MAX(value) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      p AS (
        SELECT event_id, user_id, epoch_us(ts) AS pts
        FROM events WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, v.vts AS view_ts, v.view_value
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.vts <= p.pts"""))

  // ---- equi+range join: clicks by the same user in the day before
  //      each purchase. Equi key keeps the join shuffled (no BNLJ). ----
  private val qRangeJoin = Q(
    "q_range_join_count",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"))
      TemporalJoin.countInPrecedingRange(
          purchases, clicks, "user_id", "ts_us", DAY_US, "n_clicks_prev_day")
        .select(col("event_id"), col("user_id"), col("n_clicks_prev_day"))
    },
    Some(s"""
      SELECT p.event_id, p.user_id,
        CAST(COUNT(c.cts) AS BIGINT) AS n_clicks_prev_day
      FROM (SELECT event_id, user_id, epoch_us(ts) AS pts
            FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT user_id, epoch_us(ts) AS cts
                 FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.cts >= p.pts - $DAY_US AND c.cts < p.pts
      GROUP BY 1, 2"""))

  // ---- rollup: subtotal lattice over (returnflag, linestatus); the
  //      GROUPING() indicators disambiguate subtotal rows. ----
  private val qRollup = Q(
    "q_rollup_agg",
    (s, d) => Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
        grouping(col("l_linestatus")).cast("bigint").as("g_status"),
        // integer image: headroom past scale 6's 2^53 conversion
        // bound (round-9 sf10 parity catch on the sibling cube)
        Moments.sumAt(col("l_quantity"), 0).as("sum_qty"),
        count(lit(1)).as("n")),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        ${MS.sumAt("l_quantity", 0)} AS sum_qty,
        CAST(COUNT(1) AS BIGINT) AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""))

  // ---- cube: full cross lattice (adds the status-only slice). ----
  private val qCube = Q(
    "q_cube_agg",
    (s, d) => Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
        grouping(col("l_linestatus")).cast("bigint").as("g_status"),
        // money image: the sf10 price sum passes scale 6's 2^53
        // conversion bound (round-9 parity catch)
        Moments.sumAt(col("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n")),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        ${MS.sumAt("l_extendedprice", 2)} AS sum_price,
        CAST(COUNT(1) AS BIGINT) AS n
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""))

  // ---- Bloom-pruned semi join (ops.BloomPrune): fact rows filtered
  //      AT THE SCAN by a driver-built md5-family bit array, then the
  //      exact left_semi removes the Bloom's false positives — result
  //      ≡ the plain semi join, which is exactly what the oracle
  //      replays (the Bloom changes shuffle volume, never output;
  //      BloomPruneSpec asserts the pruning itself). nBits scales
  //      with the dim count so the realized fp rate stays ~constant
  //      at every SF without touching the oracle. ----
  private val qBloomPrune = Q(
    "q_bloom_prune_join",
    (s, d) => {
      val dim = Tables.part(s, d).filter(col("p_size") <= 10)
      val nKeys = math.max(64L, dim.count())
      val nBits = math.min(BloomPrune.MaxBits.toLong,
        java.lang.Long.highestOneBit(nKeys * 16) * 2).toInt
      // dim-regime join strategy now lives in BloomPrune itself: the
      // default AutoDimHint resolves shuffle_hash past
      // BloomPrune.ShuffleHashDimKeys from the built filter's own
      // cardinality estimate (measured A/B in its scaladoc), so the
      // gate-SF plan keeps the planner's broadcast with no caller gate.
      BloomPrune.semiJoin(
        Tables.lineitem(s, d), "l_partkey", dim, "p_partkey", nBits)
        .groupBy(col("l_returnflag"))
        .agg(
          Moments.sumAt(col("l_quantity"), 0).as("sum_qty"),
          Moments.sumAt(col("l_extendedprice"), 2).as("revenue"),
          count(lit(1)).as("n"))
    },
    Some(s"""
      SELECT l_returnflag,
        ${MS.sumAt("l_quantity", 0)} AS sum_qty,
        ${MS.sumAt("l_extendedprice", 2)} AS revenue,
        CAST(COUNT(1) AS BIGINT) AS n
      FROM lineitem
      WHERE l_partkey IS NOT NULL
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 10)
      GROUP BY 1"""))

  def all: Seq[Q] = Seq(qAsOf, qRangeJoin, qRollup, qCube, qBloomPrune)
}
