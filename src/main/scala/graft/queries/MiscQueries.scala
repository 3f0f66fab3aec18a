package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.DistributedRank
import graft.stats.Moments.{Sql => MS}

/** Remaining reference-surface operators: histograms, QC count stacks,
  * distributed ranking, ntile chunks, regex label extraction, column
  * combination (SURVEY §2.6, §2.8-2.10 tail).
  */
object MiscQueries extends QueryProvider {

  // ---- modificationlocalization / comparedist: bucketed histograms ----
  private val qHistogram = Q(
    "q_histogram",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(least(floor(col("l_discount") * 100), lit(10)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n")),
    Some("""
      SELECT CAST(LEAST(FLOOR(l_discount * 100), 10) AS BIGINT) AS bucket,
             CAST(COUNT(1) AS BIGINT) AS n
      FROM lineitem GROUP BY 1"""))

  // ---- comparedist: same histogram keyed by group selection ----
  private val qHistogramCompare = Q(
    "q_histogram_compare",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"),
        least(floor(col("l_discount") * 100), lit(10)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n")),
    Some("""
      SELECT l_returnflag, CAST(LEAST(FLOOR(l_discount * 100), 10) AS BIGINT) AS bucket,
             CAST(COUNT(1) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2"""))

  // ---- quality_control (visualize.py:1625-1662): one-pass count stack ----
  private val qQcCounts = Q(
    "q_qc_counts",
    (s, d) => Tables.lineitem(s, d).agg(
      count(lit(1)).as("total"),
      sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("n_returned"),
      sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("n_open"),
      sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n_high_qty"),
      sum(when(col("l_discount") > 0, 1L).otherwise(0L)).as("n_discounted")),
    Some("""
      SELECT CAST(COUNT(1) AS BIGINT) AS total,
        CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_qty,
        CAST(SUM(CASE WHEN l_discount > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted
      FROM lineitem"""))

  // ---- rankintensity: distributed global rank + magnitude segments ----
  private val qRank = Q(
    "q_rank_magnitude",
    (s, d) => DistributedRank.rowNumber(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", ascending = false, tieCols = Seq("o_orderkey"))
      .withColumn("magnitude",
        (length(floor(col("o_totalprice")).cast("long").cast("string")) - 1).cast("long"))
      .select(col("o_orderkey"), col("rank"), col("magnitude")),
    Some("""
      SELECT o_orderkey,
        CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank,
        CAST(LENGTH(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR)) - 1 AS BIGINT) AS magnitude
      FROM orders"""))

  // ---- chunks (utils.py:259-279): ntile split ----
  private val qNtile = Q(
    "q_ntile_chunks",
    (s, d) => graft.ops.DistributedRank
      .ntile(Tables.supplier(s, d), "s_acctbal", Seq("s_suppkey"), 10)
      .select(col("s_suppkey"), col("chunk")),
    Some("""
      SELECT s_suppkey,
        CAST(NTILE(10) OVER (ORDER BY s_acctbal, s_suppkey) AS INT) AS chunk
      FROM supplier"""))

  // ---- per-key top-k (grouped top-k, keyed window — scales unlike a
  //      global sort): each customer's 3 priciest orders ----
  private val qTopKPerGroup = Q(
    "q_topk_per_group",
    (s, d) => DistributedRank.topKPerKey(
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      keyCols = Seq("o_custkey"), orderCol = "o_totalprice",
      ascending = false, tieCols = Seq("o_orderkey"), k = 3),
    Some("""
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          CAST(ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders) t
      WHERE rn <= 3"""))

  // ---- build_index_from_labels: regex capture over labels ----
  private val qLabelExtract = Q(
    "q_label_extract",
    (s, d) => Tables.orders(s, d).select(
      col("o_orderkey"),
      regexp_extract(col("o_orderpriority"), "^(\\d+)-(.*)$", 1).try_cast("int").as("prio_level"),
      regexp_extract(col("o_orderpriority"), "^(\\d+)-(.*)$", 2).as("prio_label")),
    Some("""
      SELECT o_orderkey,
        TRY_CAST(regexp_extract(o_orderpriority, '^(\d+)-(.*)$', 1) AS INT) AS prio_level,
        regexp_extract(o_orderpriority, '^(\d+)-(.*)$', 2) AS prio_label
      FROM orders"""))

  // ---- combine_expression_columns: pair mean projection ----
  private val qCombine = Q(
    "q_combine_cols",
    (s, d) => Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      ((col("l_tax") + col("l_discount")) / 2).as("tax_disc_mean")),
    Some("""
      SELECT l_orderkey, l_linenumber, (l_tax + l_discount) / 2 AS tax_disc_mean
      FROM lineitem"""))

  // ---- go_enrichment data-plane tail (§2.10): summary means + FDR
  //      gate + sort over a synthetic "service response" built from
  //      part (GO=brand, Name=type, P/FDR from retailprice) ----
  private val qGoEnrichment = Q(
    "q_go_enrichment",
    (s, d) => {
      val go = Tables.part(s, d).select(
        col("p_brand").as("GO"), col("p_type").as("Name"),
        col("p_partkey").cast("string").as("Gene ID"),
        (col("p_retailprice") / 100000.0).as("P"),
        (col("p_retailprice") / 50000.0).as("FDR"))
      graft.Padua.go_enrichment_process(go, fdr = 0.016)
    },
    Some(s"""
      WITH go AS (
        SELECT p_brand AS "GO", p_type AS "Name",
               (p_retailprice / 100000.0) AS p,
               (p_retailprice / 50000.0) AS f
        FROM part),
      s AS (
        SELECT "GO", "Name",
          ${MS.meanOf(MS.sumAt("p", 6), "COUNT(p)")} AS "P",
          ${MS.meanOf(MS.sumAt("f", 6), "COUNT(f)")} AS "FDR"
        FROM go GROUP BY 1, 2)
      SELECT * FROM s WHERE "P" < 0.016"""))

  // ---- id-mapping application (§2.4 uniprot tail): broadcast join of
  //      a small (from, to) pair table onto the fact side ----
  private val qIdMapping = Q(
    "q_id_mapping",
    (s, d) => graft.Padua.apply_id_mapping(
      Tables.supplier(s, d).select(
        col("s_suppkey"), col("s_nationkey").cast("string").as("pid")),
      Tables.nation(s, d).select(
        col("n_nationkey").cast("string").as("from_id"), col("n_name").as("to_id")),
      "pid"),
    Some("""
      SELECT s_suppkey, CAST(s_nationkey AS VARCHAR) AS pid, n_name AS to_id
      FROM supplier LEFT JOIN nation ON CAST(n_nationkey AS VARCHAR) = CAST(s_nationkey AS VARCHAR)"""))

  // ---- exact per-group quantiles (the corpus percentile-gate
  //      primitive): partitioned-window rank with deterministic
  //      tie-break, rank ceil(q*n) selected — exact, reproducible,
  //      and replayed verbatim by the oracle. ----
  private val qGroupQuantiles = Q(
    "q_group_quantiles",
    (s, d) => graft.ops.Quantiles.exactGroupQuantiles(
      graft.Tables.lineitem(s, d).select(
        org.apache.spark.sql.functions.col("l_returnflag"),
        org.apache.spark.sql.functions.col("l_quantity"),
        org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_linenumber")),
      "l_returnflag", "l_quantity", Seq(0.5, 0.95, 0.99)),
    Some(graft.ops.Quantiles.oracleSql(
      "lineitem", "l_returnflag", "l_quantity", Seq(0.5, 0.95, 0.99))))

  // ---- write_phosphopath_ratio's ratio frame (ref io.py:129-185):
  //      per-feature control-mean / comparison-mean, one frame per
  //      (comparison group, timepoint), IDs suffixed by the ordinal
  //      timepoint. The long proteomics frame is synthesized from
  //      lineitem deterministically on BOTH sides; the two conditional
  //      means are exact-decimal re-expressions of the operator's
  //      avg(when(...)) (INVARIANTS.md §1: library avg is not
  //      bitwise-portable). Group sums stay ≤ ~1e6 even at sf100
  //      (30k feature groups), inside scale 6's 1e12 bound. ----
  private val qPhosphoRatio = Q(
    "q_phosphopath_ratio",
    (s, d) => {
      import graft.stats.Moments
      val li = Tables.lineitem(s, d).select(
        (col("l_partkey") % 500).cast("string").as("protein"),
        (col("l_suppkey") % 20).as("rsite"),
        (col("l_linenumber") % 3 + 1).as("multiplicity"),
        when(col("l_returnflag") === "A", "ctrl")
          .when(col("l_returnflag") === "N", "g1").otherwise("g2").as("grp"),
        (col("l_orderkey") % 2 + 1).as("timepoint"),
        col("l_quantity").as("v"))
      val frames = Seq(("g1", 1, "1"), ("g2", 2, "2")).map { case (grp, tp, ord) =>
        li.filter(col("grp") === "ctrl" || (col("grp") === grp && col("timepoint") === tp))
          .groupBy(col("protein"), col("rsite"), col("multiplicity"))
          .agg(
            Moments.sumAt(when(col("grp") === "ctrl", col("v")), 6).as("_sa"),
            count(when(col("grp") === "ctrl", col("v"))).as("_na"),
            Moments.sumAt(when(col("grp") === grp, col("v")), 6).as("_sc"),
            count(when(col("grp") === grp, col("v"))).as("_nc"))
          .select(
            concat_ws("-", col("protein"), col("rsite").cast("string"),
              col("multiplicity").cast("string"), lit(ord)).as("ID"),
            Moments.div(
              Moments.meanOf(col("_sa"), col("_na")),
              Moments.meanOf(col("_sc"), col("_nc"))).as("Ratio"))
      }
      frames.reduce(_ unionByName _)
    },
    Some {
      def frame(grp: String, tp: Int, ord: String) = s"""
        SELECT CONCAT_WS('-', protein, CAST(rsite AS VARCHAR),
                 CAST(multiplicity AS VARCHAR), '$ord') AS "ID",
          (${MS.sumAt(s"CASE WHEN grp = 'ctrl' THEN v END", 6)}
             / CAST(COUNT(CASE WHEN grp = 'ctrl' THEN v END) AS DOUBLE))
          / (${MS.sumAt(s"CASE WHEN grp = '$grp' THEN v END", 6)}
             / CAST(COUNT(CASE WHEN grp = '$grp' THEN v END) AS DOUBLE)) AS "Ratio"
        FROM longf WHERE grp = 'ctrl' OR (grp = '$grp' AND timepoint = $tp)
        GROUP BY protein, rsite, multiplicity"""
      s"""
      WITH longf AS (
        SELECT CAST(l_partkey % 500 AS VARCHAR) AS protein,
               l_suppkey % 20 AS rsite,
               l_linenumber % 3 + 1 AS multiplicity,
               CASE WHEN l_returnflag = 'A' THEN 'ctrl'
                    WHEN l_returnflag = 'N' THEN 'g1' ELSE 'g2' END AS grp,
               l_orderkey % 2 + 1 AS timepoint,
               l_quantity AS v
        FROM lineitem)
      ${frame("g1", 1, "1")}
      UNION ALL
      ${frame("g2", 2, "2")}"""
    })

  // ---- plot_point_cov / plot_cov_ellipse data (ref visualize.py:
  //      60-113): exact decimal cross-moments → sample covariance →
  //      closed-form 2×2 eigen → (center, width, height, angle). The
  //      single transcendental (atan2 degrees) is rounded at 9 digits
  //      on both sides (INVARIANTS.md §1); sums ride wide scale 12
  //      (|Σ| ≤ ~3e10 at sf100, bound 1e16). ----
  private val qCovEllipse = Q(
    "q_cov_ellipse",
    (s, d) => graft.stats.Summaries.covarianceEllipseDf(
        Tables.lineitem(s, d), "l_quantity", "l_discount", nstd = 2.0)
      .withColumn("angle_deg", round(col("angle_deg"), 9)),
    Some(s"""
      WITH m AS (
        SELECT ${MS.sumWide("l_quantity", 12)} AS sx, ${MS.sumWide("l_discount", 12)} AS sy,
               ${MS.sumWide("l_quantity * l_quantity", 10)} AS sxx, ${MS.sumWide("l_discount * l_discount", 10)} AS syy,
               ${MS.sumWide("l_quantity * l_discount", 10)} AS sxy,
               COUNT(l_quantity) AS n
        FROM lineitem),
      c AS (
        SELECT ${MS.meanOf("sx", "n")} AS cx, ${MS.meanOf("sy", "n")} AS cy,
               ${MS.covOf("sx", "sx", "sxx", "n")} AS cxx,
               ${MS.covOf("sx", "sy", "sxy", "n")} AS cxy,
               ${MS.covOf("sy", "sy", "syy", "n")} AS cyy
        FROM m),
      e AS (
        SELECT cx, cy, cxx, cxy, cyy,
               cxx + cyy AS tr, cxx * cyy - cxy * cxy AS det
        FROM c),
      e2 AS (SELECT *, SQRT(GREATEST(tr * tr / 4.0 - det, 0.0)) AS disc FROM e),
      e3 AS (SELECT *, tr / 2.0 + disc AS l1, tr / 2.0 - disc AS l2 FROM e2)
      SELECT cx, cy,
        4.0 * SQRT(GREATEST(l1, 0.0)) AS width,
        4.0 * SQRT(GREATEST(l2, 0.0)) AS height,
        ROUND(CASE WHEN cxy = 0 THEN CASE WHEN cxx >= cyy THEN 0.0 ELSE 90.0 END
                   ELSE degrees(atan2(l1 - cxx, cxy)) END, 9) AS angle_deg
      FROM e3"""))

  def all: Seq[Q] = Seq(
    qHistogram, qHistogramCompare, qQcCounts, qRank, qNtile, qTopKPerGroup,
    qLabelExtract, qCombine, qGoEnrichment, qIdMapping, qGroupQuantiles,
    qPhosphoRatio, qCovEllipse)
}
