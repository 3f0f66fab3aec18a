package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Filters, Normalize, Quantiles, Reshape}
import graft.stats.{Moments, Summaries}
import graft.stats.Moments.{Sql => MS}

/** Scan / filter / projection / join / reshape / aggregation operators
  * (SURVEY §2.1–§2.9) demonstrated on the driver testdata with DuckDB
  * oracles. Each query name cites the reference operator it exercises.
  */
object CoreQueries extends QueryProvider {

  // ---- §2.5 flagship aggregation (padua axis-sum/mean == groupBy.agg) ----
  private val q1Agg = Q(
    "q1_agg",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // scale-0/2/4 images, not scale 6: at sf10 these fact sums
        // reach ~2.7e11 and the scale-6 mantissa passes 2^53, where
        // the engines' decimal->double double-rounding diverges by
        // 1 ulp (caught by the round-9 sf10 parity run — Moments
        // bound table). Quantities are integers, prices cent-valued,
        // and the discount product is exact at 4 decimals (2dp × 2dp),
        // so each coarse image is exact and its double conversion
        // correctly rounded far past sf10. The disc-price sum takes
        // the split conversion: at sf100 the largest group's revenue
        // ≈ 1.4e12 exceeds plain scale 4's 9e11 conversion bound
        // (MomentsSpec routing check); the floor split stays
        // engine-exact to ~9e15.
        .agg(
          Moments.sumAt(col("l_quantity"), 0).as("sum_qty"),
          Moments.sumAt(col("l_extendedprice"), 2).as("sum_base_price"),
          Moments.sumWideSplit(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
          (Moments.sumAt(col("l_quantity"), 0) / count(lit(1)).cast("double")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${MS.sumAt("l_quantity", 0)} AS sum_qty,
        ${MS.sumAt("l_extendedprice", 2)} AS sum_base_price,
        ${MS.sumWideSplit("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
        ${MS.sumAt("l_quantity", 0)} / CAST(COUNT(1) AS DOUBLE) AS avg_qty,
        CAST(COUNT(1) AS BIGINT) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      GROUP BY l_returnflag, l_linestatus"""))

  // ---- §2.3 remove_rows_matching (null-safe != keeps null rows) ----
  private val qRemoveMatching = Q(
    "q_remove_rows_matching",
    (s, d) => Filters.removeRowsMatching(Tables.lineitem(s, d), "l_returnflag", "A")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
      FROM lineitem WHERE l_returnflag IS DISTINCT FROM 'A'"""))

  // ---- §2.3 remove_rows_containing (remove_reverse/contaminants family) ----
  private val qRemoveContaining = Q(
    "q_remove_rows_containing",
    (s, d) => Filters.removeRowsContaining(Tables.orders(s, d), "o_orderpriority", "URGENT")
      .select(col("o_orderkey"), col("o_orderpriority")),
    Some("""
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE NOT COALESCE(CAST(o_orderpriority AS VARCHAR) LIKE '%URGENT%', FALSE)"""))

  // ---- §2.3 filter_localization_probability (numeric threshold) ----
  private val qThreshold = Q(
    "q_filter_threshold",
    (s, d) => Filters.filterLocalizationProbability(Tables.lineitem(s, d), "l_discount", 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_discount")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
      WHERE l_discount >= 0.05"""))

  // ---- §2.3 search (substring in any of several columns) ----
  private val qSearch = Q(
    "q_search",
    (s, d) => Filters.search(Tables.documents(s, d), "data", Seq("text", "source"))
      .select(col("doc_id")),
    Some("""
      SELECT doc_id FROM documents
      WHERE COALESCE(CAST(text AS VARCHAR) LIKE '%data%', FALSE)
         OR COALESCE(CAST(source AS VARCHAR) LIKE '%data%', FALSE)"""))

  // ---- §2.3 minimum_valid_values_in_any_group (one id-partitioned window pass) ----
  private val qMinValid = Q(
    "q_min_valid_in_any_group",
    (s, d) => Filters.minimumValidValuesInAnyGroup(
        Tables.lineitemKeyedBy(s, d, Tables.PartClusterKey),
        Seq("l_partkey"), Seq("l_returnflag"), "l_quantity", 3L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
      WHERE l_partkey IN (
        SELECT l_partkey FROM (
          SELECT l_partkey, l_returnflag, COUNT(l_quantity) AS c
          FROM lineitem GROUP BY l_partkey, l_returnflag)
        GROUP BY l_partkey HAVING MAX(c) >= 3)"""))

  // ---- §2.4 build_index_from_design: broadcast dimension join ----
  // (design-table join pattern: fact rows annotated from a small dim,
  //  then grouped by the joined attribute — supplier→nation as design)
  private val qDesignJoin = Q(
    "q_design_join_agg",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          // scale-4 image: the sf10 revenue sum passes scale 6's
          // 2^53 double-conversion bound; the 2dp×2dp product is
          // exact at scale 4, which pushes the bound to ~9e11
          // (round-9 parity catch — Moments bound table)
          Moments.sumAt(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some(s"""
      SELECT n_name,
        ${MS.sumAt("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
        CAST(COUNT(1) AS BIGINT) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name"""))

  // ---- §2.8 expand_side_table / unpivot (wide→long converter) ----
  private val qUnpivot = Q(
    "q_unpivot",
    (s, d) => Reshape.unpivot(
      Tables.lineitem(s, d),
      Seq("l_orderkey", "l_linenumber"),
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      nameCol = "metric", valueCol = "value"),
    Some("""
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem"""))

  // ---- §2.8 pivot long→wide via conditional aggregation ----
  private val qPivot = Q(
    "q_pivot_conditional",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .agg(
        // integer images (round-9: scale 6's 2^53 conversion bound)
        Moments.sumAt(when(col("l_returnflag") === "A", col("l_quantity")), 0).as("qty_a"),
        Moments.sumAt(when(col("l_returnflag") === "N", col("l_quantity")), 0).as("qty_n"),
        Moments.sumAt(when(col("l_returnflag") === "R", col("l_quantity")), 0).as("qty_r")),
    Some(s"""
      SELECT l_linestatus,
        ${MS.sumAt("CASE WHEN l_returnflag = 'A' THEN l_quantity END", 0)} AS qty_a,
        ${MS.sumAt("CASE WHEN l_returnflag = 'N' THEN l_quantity END", 0)} AS qty_n,
        ${MS.sumAt("CASE WHEN l_returnflag = 'R' THEN l_quantity END", 0)} AS qty_r
      FROM lineitem GROUP BY l_linestatus"""))

  // ---- §2.5 subtract_column_median (exact median, group + rejoin) ----
  private val qMedianCenter = Q(
    "q_median_center",
    (s, d) => {
      val long = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag").as("sample"), col("l_extendedprice").as("value"))
      Normalize.subtractColumnMedian(long, "sample", "value")
        .select(col("l_orderkey"), col("l_linenumber"), col("sample"), col("value"))
    },
    // the median mirrors Quantiles.medianByGroup's two-rank
    // interpolating tree (NOT DuckDB's MEDIAN(), whose interpolation
    // expression is not guaranteed to be the same (lo+hi)/2 IEEE tree)
    Some(s"""
      WITH t AS (SELECT l_orderkey, l_linenumber, l_returnflag AS sample,
                        l_extendedprice AS value FROM lineitem),
      m AS (${Quantiles.medianOracleSql("t", "sample", "value", "med")})
      SELECT l_orderkey, l_linenumber, sample, value - med AS value
      FROM t JOIN m USING (sample)"""))

  // ---- §2.5 modifiedaminoacids: value counts ----
  private val qValueCounts = Q(
    "q_value_counts",
    (s, d) => Tables.documents(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n")),
    Some("SELECT lang, CAST(COUNT(1) AS BIGINT) AS n FROM documents GROUP BY lang"))

  // ---- §2.5 sitespeptidesproteins: count + countDistinct summary ----
  private val qDistinctCounts = Q(
    "q_distinct_counts",
    (s, d) => Tables.part(s, d).agg(
      count(lit(1)).as("n_parts"),
      countDistinct(col("p_type")).as("n_types"),
      countDistinct(col("p_brand")).as("n_brands")),
    Some("""
      SELECT CAST(COUNT(1) AS BIGINT) AS n_parts,
             CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
             CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
      FROM part"""))

  // ---- §2.6 rankintensity top-k: global sort + limit ----
  private val qTopK = Q(
    "q_topk",
    (s, d) => Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(25),
    Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"""))

  // ---- §2.6 find_nearest_idx: argmin |x - v| via min_by ----
  private val qNearest = Q(
    "q_find_nearest",
    (s, d) => Tables.orders(s, d)
      .agg(min_by(col("o_orderkey"), struct(abs(col("o_totalprice") - 150000.0), col("o_orderkey")))
        .as("nearest_orderkey")),
    Some("""
      SELECT o_orderkey AS nearest_orderkey FROM orders
      ORDER BY ABS(o_totalprice - 150000.0), o_orderkey LIMIT 1"""))

  // ---- §2.7 venn: set intersections of row-key sets ----
  private val qVenn = Q(
    "q_venn",
    (s, d) => {
      // one-pass: tag each side, union, ONE shuffle on the key, then a
      // single-row membership agg — no intersect/distinct shuffles, each
      // table scanned once. (c_custkey is unique in customer, so n_a =
      // row count = distinct count.)
      val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), lit(1).as("in_a"), lit(0).as("in_b"))
      val b = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey"), lit(0).as("in_a"), lit(1).as("in_b"))
      a.unionByName(b)
        .groupBy(col("c_custkey"))
        .agg(max(col("in_a")).as("ia"), max(col("in_b")).as("ib"))
        .agg(
          sum(col("ia")).cast("bigint").as("n_a"),
          sum(col("ib")).cast("bigint").as("n_b"),
          sum(col("ia") * col("ib")).cast("bigint").as("n_ab"))
    },
    Some("""
      SELECT
        (SELECT CAST(COUNT(1) AS BIGINT) FROM customer WHERE c_mktsegment = 'BUILDING') AS n_a,
        (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_b,
        (SELECT CAST(COUNT(1) AS BIGINT) FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT SELECT o_custkey FROM orders)) AS n_ab"""))

  // ---- §2.7 venn, 3-set form (ref visualize.py:979-1033 supports
  //      df3): same one-pass membership agg, seven region counts.
  //      Sets: A = BUILDING customers, B = customers with orders,
  //      C = customers with positive balance. Each table scanned once;
  //      ONE shuffle on the key; the 7 counts are a single-row agg. ----
  private val qVenn3 = Q(
    "q_venn3",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val a = cust.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), lit(1).as("in_a"), lit(0).as("in_b"), lit(0).as("in_c"))
      val b = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey"), lit(0).as("in_a"), lit(1).as("in_b"), lit(0).as("in_c"))
      val c = cust.filter(col("c_acctbal") > 0)
        .select(col("c_custkey"), lit(0).as("in_a"), lit(0).as("in_b"), lit(1).as("in_c"))
      a.unionByName(b).unionByName(c)
        .groupBy(col("c_custkey"))
        .agg(max(col("in_a")).as("ia"), max(col("in_b")).as("ib"), max(col("in_c")).as("ic"))
        .agg(
          sum(col("ia")).cast("bigint").as("n_a"),
          sum(col("ib")).cast("bigint").as("n_b"),
          sum(col("ic")).cast("bigint").as("n_c"),
          sum(col("ia") * col("ib")).cast("bigint").as("n_ab"),
          sum(col("ia") * col("ic")).cast("bigint").as("n_ac"),
          sum(col("ib") * col("ic")).cast("bigint").as("n_bc"),
          sum(col("ia") * col("ib") * col("ic")).cast("bigint").as("n_abc"))
    },
    Some("""
      WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      b AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
      c AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
      SELECT
        (SELECT CAST(COUNT(1) AS BIGINT) FROM a) AS n_a,
        (SELECT CAST(COUNT(1) AS BIGINT) FROM b) AS n_b,
        (SELECT CAST(COUNT(1) AS BIGINT) FROM c) AS n_c,
        (SELECT CAST(COUNT(1) AS BIGINT) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_ab,
        (SELECT CAST(COUNT(1) AS BIGINT) FROM (SELECT * FROM a INTERSECT SELECT * FROM c)) AS n_ac,
        (SELECT CAST(COUNT(1) AS BIGINT) FROM (SELECT * FROM b INTERSECT SELECT * FROM c)) AS n_bc,
        (SELECT CAST(COUNT(1) AS BIGINT) FROM (
           SELECT * FROM a INTERSECT SELECT * FROM b INTERSECT SELECT * FROM c)) AS n_abc"""))

  // ---- §2.9 get_protein_id family: split-string scalar funcs ----
  private val qSplitIds = Q(
    "q_split_ids",
    (s, d) => Tables.orders(s, d).select(
      col("o_orderkey"),
      split(col("o_orderpriority"), "-").getItem(0).as("prio_code"),
      split(col("o_orderpriority"), "-").getItem(1).as("prio_name")),
    Some("""
      SELECT o_orderkey,
             string_split(o_orderpriority, '-')[1] AS prio_code,
             string_split(o_orderpriority, '-')[2] AS prio_name
      FROM orders"""))

  // ---- §2.9 z-score by group (exact-moment formulation) ----
  private val qZscore = Q(
    "q_zscore",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val stats = li.groupBy(col("l_returnflag"))
        .agg(
          Moments.sumAt(col("l_quantity"), 6).as("_s1"),
          Moments.sumWide(col("l_quantity") * col("l_quantity"), 10).as("_s2"),
          count(col("l_quantity")).as("_n"))
        .withColumn("_mu", Moments.meanOf(col("_s1"), col("_n")))
        .withColumn("_sd", sqrt(Moments.varOf(col("_s1"), col("_s2"), col("_n"))))
        .select(col("l_returnflag"), col("_mu"), col("_sd"))
      li.join(broadcast(stats), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          Moments.div(col("l_quantity") - col("_mu"), col("_sd")).as("z"))
    },
    Some(s"""
      SELECT l_orderkey, l_linenumber, (l_quantity - _mu) / _sd AS z
      FROM lineitem
      JOIN (
        SELECT l_returnflag,
          ${MS.meanOf(MS.sumAt("l_quantity", 6), "COUNT(l_quantity)")} AS _mu,
          SQRT(${MS.varOf(MS.sumAt("l_quantity", 6), MS.sumWide("l_quantity * l_quantity", 10), "COUNT(l_quantity)")}) AS _sd
        FROM lineitem GROUP BY l_returnflag) st USING (l_returnflag)"""))

  // ---- §2.8 transform_expression_columns: log2 with inf→null ----
  private val qLog2 = Q(
    "q_log2_transform",
    (s, d) => Reshape.transformExpressionColumns(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
        Seq("l_extendedprice"))
      .withColumnRenamed("l_extendedprice", "log2_price")
      // round: log2 is not a correctly-rounded op, so cross-engine ulps differ
      .withColumn("log2_price", round(col("log2_price"), 9)),
    Some("""
      SELECT l_orderkey, l_linenumber,
        ROUND(CASE WHEN isinf(log2(l_extendedprice)) OR isnan(log2(l_extendedprice))
                   THEN NULL ELSE log2(l_extendedprice) END, 9) AS log2_price
      FROM lineitem"""))

  // ---- §2.5 enrichment_from_evidence: flag + grouped sum + ratio ----
  private val qEnrichment = Q(
    "q_enrichment",
    (s, d) => Summaries.enrichmentFromEvidence(Tables.events(s, d), "props", "event_type", "value", "a"),
    Some(s"""
      SELECT event_type,
        ${MS.sumAt("CASE WHEN COALESCE(props LIKE '%a%', FALSE) THEN value END", 6)} AS modified,
        ${MS.sumAt("value", 6)} AS total,
        ${MS.sumAt("CASE WHEN COALESCE(props LIKE '%a%', FALSE) THEN value END", 6)}
          / ${MS.sumAt("value", 6)} AS enrichment
      FROM events GROUP BY event_type"""))

  // ---- §2.5 enrichment_from_msp (ref analysis.py:263-287): the
  //      evidence twin PLUS the MSP-specific zero→missing rule — a 0
  //      intensity means "not quantified" and must leave BOTH sums,
  //      not dilute the denominator. ----
  private val qEnrichmentMsp = Q(
    "q_enrichment_msp",
    (s, d) => Summaries.enrichmentFromMsp(Tables.events(s, d), "props", "event_type", "value", "b"),
    Some(s"""
      SELECT event_type, modified, total, modified / total AS enrichment
      FROM (
        SELECT event_type,
          ${MS.sumAt("CASE WHEN COALESCE(props LIKE '%b%', FALSE) THEN CASE WHEN value <> 0 THEN value END END", 6)} AS modified,
          ${MS.sumAt("CASE WHEN value <> 0 THEN value END", 6)} AS total
        FROM events GROUP BY event_type) t"""))

  def all: Seq[Q] = Seq(
    q1Agg, qRemoveMatching, qRemoveContaining, qThreshold, qSearch, qMinValid,
    qDesignJoin, qUnpivot, qPivot, qMedianCenter, qValueCounts, qDistinctCounts,
    qTopK, qNearest, qVenn, qVenn3, qSplitIds, qZscore, qLog2, qEnrichment,
    qEnrichmentMsp)
}
