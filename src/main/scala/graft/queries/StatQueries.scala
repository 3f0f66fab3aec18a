package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Reshape
import graft.stats.{Moments, QValues, StatTests, Volcano}
import graft.stats.Moments.{Sql => MS}

/** Statistics operators (SURVEY §2.10) on the driver testdata.
  *
  * p-values (t/F/chi²/normal CDFs) have no DuckDB image, so most
  * oracled queries cover the deterministic statistic (t, F, H, U, z,
  * r, q — each bitwise-portable arithmetic) and drop p, with the p
  * math locked by ScalaTest goldens against independent
  * implementations. q_volcano keeps its p column end-to-end by
  * recording Spark's values during the Verify run and joining them
  * into the oracle as literals (Registry oracleGen).
  */
object StatQueries extends QueryProvider {

  // Keyed-family squares: l_quantity is 2-decimal-exact with
  // |x| < 100, so q·q is exact at 4 decimals and its scale-4 image
  // equals the scale-10 product image while the sum stays on the
  // BIGINT carrier (the measured 2× on the partial-agg-bound tier).
  // Rows per suppkey are SF-invariant, far inside the 1e14 bound.
  private val keyedSumSq: Column => Column = v => Moments.sumAt(v * v, 4)
  private def sumQty(f: String) = MS.sumAt(s"CASE WHEN l_returnflag = '$f' THEN l_quantity END", 6)
  private def sumSqQty(f: String) =
    MS.sumAt(s"CASE WHEN l_returnflag = '$f' THEN l_quantity * l_quantity END", 4)

  // ---- §2.10 ttest_ind: per-feature two-sample t between groups ----
  private val qTtest = Q(
    "q_ttest_ind",
    (s, d) => StatTests.tTestInd(
        Tables.lineitemKeyed(s, d).select(col("l_suppkey"), col("l_returnflag"), col("l_quantity")),
        Seq("l_suppkey"), "l_returnflag", "l_quantity", a = "A", b = "R",
        sumSq = keyedSumSq)
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
      .drop("p"),
    Some(s"""
      WITH g AS (
        SELECT l_suppkey,
          ${sumQty("A")} AS s1a,
          ${sumSqQty("A")} AS s2a,
          CAST(COUNT(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS BIGINT) AS n_a,
          ${sumQty("R")} AS s1b,
          ${sumSqQty("R")} AS s2b,
          CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS BIGINT) AS n_b
        FROM lineitem
        WHERE l_returnflag = 'A' OR l_returnflag = 'R'
        GROUP BY l_suppkey)
      SELECT l_suppkey, n_a, n_b,
        s1a / CAST(n_a AS DOUBLE) AS mean_a,
        s1b / CAST(n_b AS DOUBLE) AS mean_b,
        (s1a / CAST(n_a AS DOUBLE) - s1b / CAST(n_b AS DOUBLE))
          / SQRT((((CAST(n_a AS DOUBLE) - 1.0)
                     * ((s2a - s1a * s1a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
                   + (CAST(n_b AS DOUBLE) - 1.0)
                     * ((s2b - s1b * s1b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)))
                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0))
                 * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS t,
        CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0 AS df
      FROM g WHERE n_a >= 2 AND n_b >= 2"""))

  // ---- Welch unequal-variance t (scipy equal_var=False) — extended
  //      variant of ttest_ind; t and the Welch–Satterthwaite df are
  //      pure arithmetic over the same exact moments ----
  private val qTtestWelch = Q(
    "q_ttest_welch",
    (s, d) => StatTests.tTestWelch(
        Tables.lineitemKeyed(s, d).select(col("l_suppkey"), col("l_returnflag"), col("l_quantity")),
        Seq("l_suppkey"), "l_returnflag", "l_quantity", a = "A", b = "R",
        sumSq = keyedSumSq)
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
      .drop("p"),
    Some {
      val na = "CAST(n_a AS DOUBLE)"
      val nb = "CAST(n_b AS DOUBLE)"
      // fully parenthesized: an interpolated fragment ending in "/ x"
      // re-associates under * (A/x * A/x parses as ((A/x)*A)/x) — a
      // 1-ulp drift this oracle hit on first run
      val vna = s"(((s2a - s1a * s1a / $na) / ($na - 1.0)) / $na)"
      val vnb = s"(((s2b - s1b * s1b / $nb) / ($nb - 1.0)) / $nb)"
      s"""
      WITH g AS (
        SELECT l_suppkey,
          ${sumQty("A")} AS s1a,
          ${sumSqQty("A")} AS s2a,
          CAST(COUNT(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS BIGINT) AS n_a,
          ${sumQty("R")} AS s1b,
          ${sumSqQty("R")} AS s2b,
          CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS BIGINT) AS n_b
        FROM lineitem
        WHERE l_returnflag = 'A' OR l_returnflag = 'R'
        GROUP BY l_suppkey)
      SELECT l_suppkey, n_a, n_b,
        s1a / $na AS mean_a,
        s1b / $nb AS mean_b,
        (s1a / $na - s1b / $nb) / SQRT($vna + $vnb) AS t,
        (($vna + $vnb) * ($vna + $vnb))
          / (($vna * $vna) / ($na - 1.0) + ($vnb * $vnb) / ($nb - 1.0)) AS df
      FROM g WHERE n_a >= 2 AND n_b >= 2"""
    })

  // ---- Mann–Whitney U (extended): nonparametric A-vs-R per supplier.
  //      Doubled rank sums keep everything long-exact until z; p
  //      (erfc — no SQL image) drops from the oracle, golden-tested. ----
  private val qMannWhitney = Q(
    "q_mannwhitney_u",
    (s, d) => StatTests.mannWhitneyU(
        Tables.lineitemKeyed(s, d).select(col("l_suppkey"), col("l_returnflag"), col("l_quantity")),
        Seq("l_suppkey"), "l_returnflag", "l_quantity", a = "A", b = "R")
      .filter(col("n_a") >= 1 && col("n_b") >= 1)
      .drop("p"),
    Some {
      val n1 = "CAST(n_a AS DOUBLE)"
      val n2 = "CAST(n_b AS DOUBLE)"
      val nd = s"($n1 + $n2)"
      val u1 = s"((CAST(r1x2 AS DOUBLE) - $n1 * ($n1 + 1.0)) / 2.0)"
      val sigma = s"SQRT($n1 * $n2 / 12.0 * (($nd + 1.0) - CAST(ties AS DOUBLE) / ($nd * ($nd - 1.0))))"
      s"""
      WITH pv AS (
        SELECT l_suppkey, l_quantity,
          CAST(COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS BIGINT) AS ta,
          CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS tb,
          CAST(COUNT(1) AS BIGINT) AS t
        FROM lineitem
        WHERE (l_returnflag = 'A' OR l_returnflag = 'R') AND l_quantity IS NOT NULL
        GROUP BY l_suppkey, l_quantity),
      rk AS (
        SELECT l_suppkey, ta, tb, t,
          CAST(SUM(t) OVER (PARTITION BY l_suppkey ORDER BY l_quantity
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - t
            AS below
        FROM pv),
      g AS (
        SELECT l_suppkey,
          CAST(SUM(ta) AS BIGINT) AS n_a,
          CAST(SUM(tb) AS BIGINT) AS n_b,
          CAST(SUM(ta * (2 * below + t + 1)) AS BIGINT) AS r1x2,
          CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        FROM rk GROUP BY l_suppkey)
      SELECT l_suppkey, n_a, n_b,
        $u1 AS u1,
        ($u1 - $n1 * $n2 / 2.0) / NULLIF($sigma, 0.0) AS z
      FROM g WHERE n_a >= 1 AND n_b >= 1"""
    })

  // ---- Kruskal–Wallis H (extended): k-group nonparametric across all
  //      return flags, same doubled-rank-sum exactness as MW-U; p
  //      (regularized gamma) drops from the oracle. ----
  private val qKruskal = Q(
    "q_kruskal_wallis",
    (s, d) => StatTests.kruskalWallis(
        Tables.lineitemKeyed(s, d).select(col("l_suppkey"), col("l_returnflag"), col("l_quantity")),
        Seq("l_suppkey"), "l_returnflag", "l_quantity")
      .filter(col("k") >= 2)
      .drop("p"),
    Some {
      val nd = "CAST(n AS DOUBLE)"
      val hRaw = s"(12.0 / ($nd * ($nd + 1.0)) * (s / 4.0) - 3.0 * ($nd + 1.0))"
      val tf = s"(1.0 - CAST(ties AS DOUBLE) / ($nd * $nd * $nd - $nd))"
      s"""
      WITH tg AS (
        SELECT l_suppkey, l_returnflag, l_quantity, CAST(COUNT(1) AS BIGINT) AS tgc
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        GROUP BY 1, 2, 3),
      tv AS (
        SELECT l_suppkey, l_quantity, CAST(SUM(tgc) AS BIGINT) AS t
        FROM tg GROUP BY 1, 2),
      below AS (
        SELECT l_suppkey, l_quantity, t,
          CAST(SUM(t) OVER (PARTITION BY l_suppkey ORDER BY l_quantity
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - t
            AS b
        FROM tv),
      pg AS (
        SELECT tg.l_suppkey, tg.l_returnflag,
          CAST(SUM(tgc) AS BIGINT) AS ng,
          CAST(SUM(tgc * (2 * b + below.t + 1)) AS BIGINT) AS r2
        FROM tg JOIN below
          ON below.l_suppkey = tg.l_suppkey AND below.l_quantity = tg.l_quantity
        GROUP BY 1, 2),
      ties AS (
        SELECT l_suppkey, CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        FROM below GROUP BY 1),
      g AS (
        SELECT pg.l_suppkey,
          CAST(COUNT(1) AS BIGINT) AS k,
          CAST(SUM(ng) AS BIGINT) AS n,
          list_reduce(
            list_prepend(0.0, list_transform(
              list_sort(list({'g': l_returnflag, 'r2': r2, 'ng': ng})),
              x -> CAST(x.r2 AS DOUBLE) * CAST(x.r2 AS DOUBLE) / CAST(x.ng AS DOUBLE))),
            (a, b) -> a + b) AS s
        FROM pg GROUP BY 1)
      SELECT g.l_suppkey, k, n,
        $hRaw / NULLIF($tf, 0.0) AS h,
        CAST(k AS DOUBLE) - 1.0 AS df
      FROM g JOIN ties ON ties.l_suppkey = g.l_suppkey
      WHERE k >= 2"""
    })

  // ---- chi-square independence (extended): returnflag × linestatus
  //      contingency. The o²/(rt·ct) identity keeps absent cells free;
  //      the cell terms are arbitrary rationals, so the sum is the
  //      sorted-list left fold (invariant 1 bit-round-4 rule — a
  //      decimal-cast sum is not engine-portable for this value
  //      class), mirroring kruskalWallis. p (regularized gamma — no
  //      SQL image) is dropped from the oracle and golden-tested. ----
  private val qChiSq = Q(
    "q_chisq_independence",
    (s, d) => StatTests.chiSquareIndependence(
        Tables.lineitem(s, d), "l_returnflag", "l_linestatus")
      .drop("p"),
    Some(s"""
      WITH cells AS (
        SELECT l_returnflag AS a, l_linestatus AS b, CAST(COUNT(1) AS BIGINT) AS o
        FROM lineitem WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        GROUP BY 1, 2),
      rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY a),
      ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY b),
      g AS (
        SELECT list_reduce(
            list_prepend(0.0, list_transform(
              list_sort(list({'a': cells.a, 'b': cells.b,
                't': CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
                     / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))})),
              x -> x.t)),
            (a, b) -> a + b) AS s,
          CAST(SUM(o) AS BIGINT) AS n,
          CAST(COUNT(DISTINCT cells.a) AS BIGINT) AS r_levels,
          CAST(COUNT(DISTINCT cells.b) AS BIGINT) AS c_levels
        FROM cells JOIN rt ON rt.a = cells.a JOIN ct ON ct.b = cells.b)
      SELECT n, r_levels, c_levels,
        CAST(n AS DOUBLE) * s - CAST(n AS DOUBLE) AS chi2,
        (CAST(r_levels AS DOUBLE) - 1.0) * (CAST(c_levels AS DOUBLE) - 1.0) AS df
      FROM g"""))

  // ---- exact describe (pandas df.describe() contract): moments +
  //      exact rank-selected quartiles per group ----
  private val qDescribe = Q(
    "q_describe",
    (s, d) => graft.stats.Summaries.describe(
      Tables.lineitem(s, d), "l_returnflag", "l_quantity"),
    Some {
      val s1 = MS.sumAt("l_quantity", 6)
      val s2 = MS.sumWide("l_quantity * l_quantity", 10)
      s"""
      WITH m AS (
        SELECT l_returnflag, CAST(COUNT(l_quantity) AS BIGINT) AS n,
          $s1 AS s1, $s2 AS s2,
          MIN(l_quantity) AS min, MAX(l_quantity) AS max
        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY l_returnflag),
      q AS (${graft.ops.Quantiles.oracleSql(
        "lineitem", "l_returnflag", "l_quantity", Seq(0.25, 0.5, 0.75))})
      SELECT m.l_returnflag, n, min, max,
        s1 / CAST(n AS DOUBLE) AS mean,
        SQRT(${MS.varOf("s1", "s2", "n")}) AS std,
        p25, p50, p75
      FROM m JOIN q ON q.l_returnflag = m.l_returnflag"""
    })

  // ---- §2.10 anova_1way: F across the three return flags ----
  // Fixed-group pivoted formulation: all cross-group arithmetic is a
  // fixed expression tree over exact moments → deterministic (a fold
  // over per-group doubles would be order-dependent). The cross-group
  // totals are their own exact sums over the three flags — the exact
  // sum of the per-flag sums, converted to double once.
  private def anovaBuild = Q(
    "q_anova_f",
    (s, d) => {
      val li = Tables.lineitemKeyed(s, d)
      val q = col("l_quantity")
      val flags = Seq("A" -> "a", "N" -> "n", "R" -> "r")
      val inFlags = when(col("l_returnflag").isin(flags.map(_._1): _*), q)
      val aggs = flags.flatMap { case (f, sfx) =>
        val qf = when(col("l_returnflag") === f, q)
        Seq(
          Moments.sumAt(qf, 6).as(s"_s1$sfx"),
          keyedSumSq(qf).as(s"_s2$sfx"),
          count(qf).as(s"n_$sfx"))
      } ++ Seq(Moments.sumAt(inFlags, 6).as("_ts1"), keyedSumSq(inFlags).as("_ts2"))
      val g = li.groupBy(col("l_suppkey")).agg(aggs.head, aggs.tail: _*)
      val (ts1, ts2) = (col("_ts1"), col("_ts2"))
      val nTot = (col("n_a") + col("n_n") + col("n_r")).cast("double")
      def ssw1(sfx: String) = col(s"_s2$sfx") -
        Moments.div(col(s"_s1$sfx") * col(s"_s1$sfx"), col(s"n_$sfx").cast("double"))
      val ssw = ssw1("a") + ssw1("n") + ssw1("r")
      val sst = ts2 - Moments.div(ts1 * ts1, nTot)
      val ssb = sst - ssw
      val df2 = nTot - lit(3.0)
      val f = Moments.div(Moments.div(ssb, lit(2.0)), Moments.div(ssw, df2))
      g.filter(col("n_a") >= 2 && col("n_n") >= 2 && col("n_r") >= 2)
        .withColumn("f", f)
        .withColumn("df2", df2)
        .filter(col("f").isNotNull)
        .select(col("l_suppkey"), col("n_a"), col("n_n"), col("n_r"), col("f"), col("df2"))
    },
    Some {
      def n(f: String) = s"CAST(COUNT(CASE WHEN l_returnflag = '$f' THEN l_quantity END) AS BIGINT)"
      def inFlags(e: String) = s"CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN $e END"
      def ssw1(sfx: String) = s"(s2$sfx - s1$sfx * s1$sfx / CAST(n_$sfx AS DOUBLE))"
      s"""
      WITH g AS (
        SELECT l_suppkey,
          ${sumQty("A")} AS s1a, ${sumSqQty("A")} AS s2a, ${n("A")} AS n_a,
          ${sumQty("N")} AS s1n, ${sumSqQty("N")} AS s2n, ${n("N")} AS n_n,
          ${sumQty("R")} AS s1r, ${sumSqQty("R")} AS s2r, ${n("R")} AS n_r,
          ${MS.sumAt(inFlags("l_quantity"), 6)} AS ts1,
          ${MS.sumAt(inFlags("l_quantity * l_quantity"), 4)} AS ts2
        FROM lineitem GROUP BY l_suppkey),
      h AS (
        SELECT l_suppkey, n_a, n_n, n_r, ts1, ts2,
          CAST(n_a + n_n + n_r AS DOUBLE) AS ntot,
          ${ssw1("a")} + ${ssw1("n")} + ${ssw1("r")} AS ssw
        FROM g WHERE n_a >= 2 AND n_n >= 2 AND n_r >= 2)
      SELECT l_suppkey, n_a, n_n, n_r,
        (((ts2 - ts1 * ts1 / ntot) - ssw) / 2.0) / (ssw / (ntot - 3.0)) AS f,
        ntot - 3.0 AS df2
      FROM h
      WHERE (((ts2 - ts1 * ts1 / ntot) - ssw) / 2.0) / (ssw / (ntot - 3.0)) IS NOT NULL"""
    })

  // ---- §2.10 correlation: pairwise-complete Pearson matrix ----
  // Long form needs a UNIQUE feature key (the synthetic lineitem
  // (orderkey, linenumber) is not unique → self-join fan-out); use
  // embeddings (vec_id unique), correlating the first 4 dimensions.
  private val corrDims = 4
  private val qCorr = Q(
    "q_corr_matrix",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val dims = (0 until corrDims).map(i =>
        col("embedding").getItem(i).cast("double").as(s"dim$i"))
      val wide = emb.select((col("vec_id") +: dims): _*)
      val long = Reshape.unpivot(
        wide, Seq("vec_id"), (0 until corrDims).map(i => s"dim$i"),
        nameCol = "sample", valueCol = "value")
      StatTests.correlationMatrix(long, Seq("vec_id"), "sample", "value")
    },
    Some {
      val cte = "WITH w AS (SELECT vec_id, " +
        (0 until corrDims).map(i => s"CAST(embedding[${i + 1}] AS DOUBLE) AS dim$i")
          .mkString(", ") + " FROM embeddings)"
      val names = (0 until corrDims).map(i => s"dim$i")
      val pairs = for {
        (a, i) <- names.zipWithIndex
        b <- names.drop(i)
      } yield {
        val r = MS.corrOf("COUNT(1)",
          MS.sumAt(a, 6), MS.sumAt(b, 6), MS.sumWide(s"($a) * ($a)", 10), MS.sumWide(s"($b) * ($b)", 10),
          MS.sumWide(s"($a) * ($b)", 10))
        s"""SELECT '$a' AS s1, '$b' AS s2, CAST(COUNT(1) AS BIGINT) AS n, $r AS r
            FROM w"""
      }
      cte + "\n" + pairs.mkString("\nUNION ALL\n")
    })

  // ---- §2.6 qvalues: BH / Storey machinery (bucketed distributed rank) ----
  private val qQvalues = Q(
    "q_qvalues_bh",
    (s, d) => {
      val p = Tables.supplier(s, d)
        .select(col("s_suppkey"), ((col("s_acctbal") + 1000.0) / 11000.0).as("p"))
      QValues.qvalues(p, "p", qCol = "q", pi0 = 1.0)
    },
    Some("""
      WITH t AS (
        SELECT s_suppkey, (s_acctbal + 1000.0) / 11000.0 AS p FROM supplier),
      r AS (
        SELECT s_suppkey, p,
          ROW_NUMBER() OVER (ORDER BY p) AS rnk,
          COUNT(*) OVER () AS m
        FROM t)
      SELECT s_suppkey, p,
        LEAST(MIN(1.0 * CAST(m AS DOUBLE) * p / CAST(rnk AS DOUBLE))
                OVER (ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
              1.0) AS q
      FROM r"""))

  // ---- windowed and sessionized ops on the events table ----
  // hourly tumbling window aggregation (ts = nanos-since-epoch long)
  private val qEventsWindow = Q(
    "q_events_window",
    (s, d) => Tables.events(s, d)
      .withColumn("hour_bucket", expr("ts DIV 3600000000000")) // 1h of nanos
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), Moments.sumAt(col("value"), 6).as("sum_value")),
    Some(s"""
      SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        CAST(COUNT(1) AS BIGINT) AS n,
        ${MS.sumAt("value", 6)} AS sum_value
      FROM events GROUP BY 1, 2"""))

  // gap-based sessionization (30 min): lag + running sum windows
  private val qSessionize = Q(
    "q_sessionize",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("_gap",
          when(col("ts") - lag(col("ts"), 1).over(w) > 1800000000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("_gap")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("event_id"), col("user_id"), col("session_id"))
    },
    Some("""
      WITH g AS (
        SELECT event_id, user_id, ts,
          CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts), 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000
               THEN 1 ELSE 0 END AS gap
        FROM events)
      SELECT event_id, user_id,
        CAST(SUM(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
      FROM g"""))

  // ---- full volcano with p + s0 classification. The t CDF has no
  //      DuckDB image (no erf/incomplete beta), but p is a pure
  //      function of (t, df) which ARE oracled — so the Verify run
  //      RECORDS Spark's (id, p, significant) and the oracle joins
  //      them back as literals over the same hash-checked surface SQL
  //      (Registry oracleGen pattern, like Storey pi0 / Ward). The
  //      recording collect is gated on the graft.record.oracle
  //      property (set by Verify only) so Bench never pays a second
  //      evaluation. p math itself is locked by StatTestsSpec goldens
  //      against scipy-derived constants. Input is rounded at 6
  //      digits like the surface twin (see its note: 6-digit rounding
  //      makes the scale-6 image exact on both engines). ----
  private val lastVolcanoP = new java.util.concurrent.atomic.AtomicReference[
    Seq[(Long, Option[Double], Option[Boolean])]]()

  private val qVolcano = Q(
    "q_volcano",
    (s, d) => {
      val long = Tables.lineitemKeyedBy(s, d, Tables.PartClusterKey)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_partkey").as("id"), col("l_returnflag").as("group"),
          round(log2(col("l_extendedprice")), 6).as("value"))
      val v = Volcano.twoSample(long, Seq("id"), "group", "value",
        control = "A", comparison = "R", minValidN = 2,
        s0 = 0.1, minRatio = 0.1, minP = 0.5)
      if (sys.props.get("graft.record.oracle").contains("1"))
        lastVolcanoP.set(v.select(col("id"), col("p"), col("significant"))
          .collect().toSeq.map { r =>
            (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getDouble(1)),
              if (r.isNullAt(2)) None else Some(r.getBoolean(2)))
          })
      v
    },
    None,
    oracleGen = Some(() => Option(lastVolcanoP.get()).map { rec =>
      val values = rec.map { case (id, p, sig) =>
        val pl = p.map(x => s"CAST('$x' AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
        val sl = sig.map(b => if (b) "TRUE" else "FALSE").getOrElse("CAST(NULL AS BOOLEAN)")
        s"($id,$pl,$sl)"
      }.mkString(",")
      s"""
      WITH s AS ($volcanoSurfaceSql),
      pv(id, p, significant) AS (VALUES $values)
      SELECT s.*, pv.p, pv.significant FROM s JOIN pv USING (id)"""
    }))

  // ---- the volcano chain MINUS the p-dependent columns, fully
  //      DuckDB-recomputed (no recorded literals): log2 transform
  //      (rounded at SIX digits, not 9: the values feed scale-6
  //      sums, and a 9-digit-rounded value can sit exactly on a
  //      6-decimal half-boundary where the two engines' double→decimal
  //      casts disagree — at 6 digits the decimal cast is exact, no
  //      rounding at all) → grouped t moments → fold change. Shared
  //      with q_volcano's oracle as volcanoSurfaceSql. ----
  private val volcanoSurfaceSql: String = {
    val v = "ROUND(LOG2(l_extendedprice), 6)"
    def s1(f: String) = MS.sumAt(s"CASE WHEN l_returnflag = '$f' THEN $v END", 6)
    def s2(f: String) = MS.sumWide(s"CASE WHEN l_returnflag = '$f' THEN ($v) * ($v) END", 10)
    def mean(s1: String, n: String) = s"$s1 / CAST($n AS DOUBLE)"
    s"""
      WITH g AS (
        SELECT l_partkey AS id,
          ${s1("A")} AS s1a,
          ${s2("A")} AS s2a,
          CAST(COUNT(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS BIGINT) AS n_a,
          ${s1("R")} AS s1b,
          ${s2("R")} AS s2b,
          CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS BIGINT) AS n_b
        FROM lineitem
        WHERE l_returnflag = 'A' OR l_returnflag = 'R'
        GROUP BY l_partkey)
      SELECT id, n_a, n_b,
        ${mean("s1a", "n_a")} AS mean_a,
        ${mean("s1b", "n_b")} AS mean_b,
        (${mean("s1a", "n_a")} - ${mean("s1b", "n_b")})
          / SQRT((((CAST(n_a AS DOUBLE) - 1.0)
                     * ((s2a - s1a * s1a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
                   + (CAST(n_b AS DOUBLE) - 1.0)
                     * ((s2b - s1b * s1b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)))
                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0))
                 * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS t,
        CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0 AS df,
        ${mean("s1b", "n_b")} - ${mean("s1a", "n_a")} AS ratio
      FROM g WHERE n_a >= 2 AND n_b >= 2"""
  }

  private val qVolcanoSurface = Q(
    "q_volcano_surface",
    (s, d) => {
      val long = Tables.lineitemKeyedBy(s, d, Tables.PartClusterKey)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_partkey").as("id"), col("l_returnflag").as("group"),
          round(log2(col("l_extendedprice")), 6).as("value"))
      Volcano.twoSample(long, Seq("id"), "group", "value",
        control = "A", comparison = "R", minValidN = 2,
        s0 = 0.1, minRatio = 0.1, minP = 0.5)
        .drop("p", "significant")
    },
    Some(volcanoSurfaceSql))

  // ---- §2.10 ttest_1samp (intended semantics, popmean 0) ----
  private val qTtest1 = Q(
    "q_ttest_1samp",
    (s, d) => StatTests.tTest1Samp(
        Tables.lineitemKeyed(s, d)
          .select(col("l_suppkey").as("id"), (col("l_discount") - 0.05).as("value")),
        Seq("id"), "value", sumSq = keyedSumSq)
      .filter(col("n") >= 2)
      .drop("p"),
    Some {
      val v = "(l_discount - 0.05)"
      val s1 = MS.sumAt(v, 6); val s2 = MS.sumAt(s"($v) * ($v)", 4)
      s"""
      WITH g AS (
        SELECT l_suppkey AS id, $s1 AS s1, $s2 AS s2,
               CAST(COUNT($v) AS BIGINT) AS n
        FROM lineitem GROUP BY l_suppkey)
      SELECT id, n,
        s1 / CAST(n AS DOUBLE) AS mean,
        (s1 / CAST(n AS DOUBLE) - 0.0)
          / SQRT(((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
                 / CAST(n AS DOUBLE)) AS t,
        CAST(n AS DOUBLE) - 1.0 AS df
      FROM g WHERE n >= 2"""
    })

  // ---- §2.5 technical-replicate collapse: exact median per key ----
  private val qMedianCollapse = Q(
    "q_median_collapse",
    (s, d) => graft.stats.Summaries.collapseTechnicalReplicates(
      Tables.lineitemKeyed(s, d)
        .select(col("l_suppkey").as("id"), col("l_returnflag").as("Group"),
          col("l_quantity").as("value")),
      Seq("id"), Seq("Group"), "value"),
    Some("""
      SELECT l_suppkey AS id, l_returnflag AS "Group",
             MEDIAN(l_quantity) AS value
      FROM lineitem GROUP BY 1, 2"""))

  // ---- §2.10 box-plot data contract: per-group five-number summary
  //      with numpy-interpolated quartiles on the bucketed-rank engine
  //      (no whole-group buffering — see Quantiles.fiveNumberByGroup).
  //      The oracle mirrors the interpolation tree verbatim. ----
  private val qBoxSummary = Q(
    "q_box_summary",
    (s, d) => graft.stats.Summaries.boxData(
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_extendedprice")),
      Seq("l_returnflag", "l_linestatus"), "l_extendedprice"),
    Some(graft.ops.Quantiles.fiveNumberOracleSql(
      "lineitem", Seq("l_returnflag", "l_linestatus"), "l_extendedprice")))

  // ---- §2.5 _non_zero_sum ----
  private val qNonZeroSum = Q(
    "q_nonzero_sum",
    (s, d) => graft.stats.Summaries.nonZeroSum(Tables.events(s, d), Seq("event_type"), "value"),
    Some(s"""
      SELECT event_type, ${MS.sumAt("value", 6)} AS sum_value
      FROM events WHERE value > 0 GROUP BY event_type"""))

  // ---- §2.6 qvalues with Storey spline pi0. pi0 is a driver-side
  //      scalar (90-knot spline): the query run computes it ONCE and
  //      records it; the oracle is then the exact BH SQL with the same
  //      pi0 injected as a literal — the whole chain hash-checks.
  //      The literal is injected as CAST('<repr>' AS DOUBLE): a BARE
  //      decimal literal parses as DECIMAL(p,s) in DuckDB and the
  //      mixed decimal×double product is off by an ulp from the IEEE
  //      double chain; the string cast is strtod (Double.toString
  //      round-trips). ----
  private val lastStoreyPi0 = new java.util.concurrent.atomic.AtomicReference[java.lang.Double]()

  private val qQvaluesStorey = Q(
    "q_qvalues_storey",
    (s, d) => {
      val p = Tables.supplier(s, d)
        .select(col("s_suppkey"), ((col("s_acctbal") + 1000.0) / 11000.0).as("p"))
      val pi0 = QValues.storeyPi0(p, "p")
      lastStoreyPi0.set(pi0)
      QValues.qvalues(p, "p", qCol = "q", pi0 = pi0)
    },
    None,
    oracleGen = Some(() => Option(lastStoreyPi0.get()).map { pi0 =>
      s"""
      WITH t AS (
        SELECT s_suppkey, (s_acctbal + 1000.0) / 11000.0 AS p FROM supplier),
      r AS (
        SELECT s_suppkey, p,
          ROW_NUMBER() OVER (ORDER BY p) AS rnk,
          COUNT(*) OVER () AS m
        FROM t)
      SELECT s_suppkey, p,
        LEAST(MIN(CAST('$pi0' AS DOUBLE) * CAST(m AS DOUBLE) * p / CAST(rnk AS DOUBLE))
                OVER (ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
              1.0) AS q
      FROM r"""
    }))

  def all: Seq[Q] = Seq(qTtest, qTtestWelch, qChiSq, qDescribe, qMannWhitney, qKruskal, anovaBuild, qCorr, qQvalues, qQvaluesStorey,
    qTtest1, qMedianCollapse, qBoxSummary, qNonZeroSum, qEventsWindow, qSessionize, qVolcano,
    qVolcanoSurface)
}
