package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.ScalarFuncs
import graft.io.MaxQuant
import graft.ml.{Pca, Pls, Ward}
import graft.ops._
import graft.stats._

/** Reference-named facade: every public padua function, addressable by
  * its original name, delegating to the Spark-first implementation.
  * A reference user's vocabulary maps 1:1; the long-form data model
  * and Column-based arguments are the (documented) API shift.
  */
object Padua {

  // ---- io (padua/io.py) ----
  def read_maxquant(spark: SparkSession, f: String): DataFrame = MaxQuant.readMaxQuant(spark, f)
  def read_perseus(spark: SparkSession, f: String): DataFrame = MaxQuant.readPerseus(spark, f)
  /** Distributed form (part files + header sidecar) — THE scale path.
    * The reference's exact one-file output is
    * [[MaxQuant.writePerseusFile]], which coalesces to a single task
    * and therefore carries a size guard (default 4 GiB): notebook
    * ports exporting a warehouse table get an error pointing back
    * here, not a one-executor funnel. */
  def write_perseus(f: String, df: DataFrame): Unit = MaxQuant.writePerseus(df, f)
  def write_phosphopath(df: DataFrame, f: String): Unit = MaxQuant.writePhosphopath(df, f)
  def write_phosphopath_ratio(long: DataFrame, groupCol: String, tpCol: String,
      valueCol: String, control: String, comparisons: Seq[(String, Int)]): DataFrame =
    MaxQuant.phosphopathRatioFrame(long, groupCol, tpCol, valueCol, control, comparisons)
  def write_r(df: DataFrame, indexCols: Seq[String]): DataFrame = MaxQuant.rFrame(df, indexCols)

  // ---- filters (padua/filters.py) ----
  def remove_rows_matching(df: DataFrame, column: String, m: Any): DataFrame =
    Filters.removeRowsMatching(df, column, m)
  def remove_rows_containing(df: DataFrame, column: String, m: String): DataFrame =
    Filters.removeRowsContaining(df, column, m)
  def remove_reverse(df: DataFrame): DataFrame = Filters.removeReverse(df)
  def remove_contaminants(df: DataFrame): DataFrame = Filters.removeContaminants(df)
  def remove_only_identified_by_site(df: DataFrame): DataFrame =
    Filters.removeOnlyIdentifiedBySite(df)
  def filter_localization_probability(df: DataFrame, threshold: Double = 0.75): DataFrame =
    Filters.filterLocalizationProbability(df, threshold = threshold)
  def minimum_valid_values_in_any_group(df: DataFrame, idCols: Seq[String],
      groupCols: Seq[String], valueCol: String, n: Long): DataFrame =
    Filters.minimumValidValuesInAnyGroup(df, idCols, groupCols, valueCol, n)
  def search(df: DataFrame, m: String, columns: Seq[String]): DataFrame =
    Filters.search(df, m, columns)
  def filter_exclude(df: DataFrame, s: String): DataFrame = Filters.filterExclude(df, s)
  def filter_select_columns_intensity(df: DataFrame, keep: Seq[String]): DataFrame =
    Filters.selectIntensityColumns(df, keep)
  def filter_select_columns_ratio(df: DataFrame, keep: Seq[String]): DataFrame =
    Filters.selectRatioColumns(df, keep)
  def filter_intensity(df: DataFrame, label: String = "", withMultiplicity: Boolean = false): DataFrame =
    Filters.filterIntensity(df, label, withMultiplicity)
  def filter_intensity_lfq(df: DataFrame, label: String = "", withMultiplicity: Boolean = false): DataFrame =
    Filters.filterIntensityLfq(df, label, withMultiplicity)
  def filter_ratio(df: DataFrame, label: String = "", withMultiplicity: Boolean = false): DataFrame =
    Filters.filterRatio(df, label, withMultiplicity)

  // ---- process (padua/process.py) ----
  def build_index_from_design(obs: DataFrame, design: DataFrame,
      removePrefixes: Seq[String] = Nil, keepUnmatched: Boolean = true): DataFrame =
    Design.buildIndexFromDesign(obs, design,
      removePrefixes = removePrefixes, keepUnmatched = keepUnmatched)
  def build_index_from_labels(df: DataFrame, sampleCol: String,
      levels: Seq[(String, String, Option[String])]): DataFrame =
    Design.buildIndexFromLabels(df, sampleCol, levels)
  def apply_experimental_design(df: DataFrame, lookup: DataFrame): DataFrame =
    Design.applyExperimentalDesign(df, lookup)
  def strip_index_labels(df: DataFrame, strip: String): DataFrame =
    Filters.stripColumnLabels(df, strip)
  def expand_side_table(df: DataFrame): DataFrame = Reshape.expandSideTable(df)
  def fold_columns_to_rows(df: DataFrame, keyCols: Seq[String], valueCols: Seq[String]): DataFrame =
    Reshape.unpivot(df, keyCols, valueCols)
  def transform_expression_columns(df: DataFrame, columns: Seq[String],
      fn: Column => Column = org.apache.spark.sql.functions.log2): DataFrame =
    Reshape.transformExpressionColumns(df, columns, fn)
  def combine_expression_columns(df: DataFrame, pairs: Seq[(String, String, String)]): DataFrame =
    Reshape.combineExpressionColumns(df, pairs)

  // ---- normalization / imputation ----
  def subtract_column_median(df: DataFrame, sampleCol: String = "sample",
      valueCol: String = "value"): DataFrame =
    Normalize.subtractColumnMedian(df, sampleCol, valueCol)
  def gaussian(df: DataFrame, sampleCol: String = "sample", valueCol: String = "value",
      width: Double = 0.3, downshift: Double = -1.8, seed: Long = 42L): DataFrame =
    Impute.gaussian(df, sampleCol, valueCol, width, downshift, seed)
  /** `imputation.pls` (ref imputation.py:66-113 — dead code there via
    * `.ix`; intent reconstructed as kernel PLS, see Impute.pls). */
  def pls_impute(spark: SparkSession, df: DataFrame, idCol: String = "id",
      sampleCol: String = "sample", valueCol: String = "value",
      nComponents: Int = 2): DataFrame =
    Impute.pls(spark, df, idCol, sampleCol, valueCol, nComponents)

  // ---- analysis (padua/analysis.py) ----
  def correlation(df: DataFrame, idCols: Seq[String], sampleCol: String,
      valueCol: String): DataFrame =
    StatTests.correlationMatrix(df, idCols, sampleCol, valueCol)
  def ttest_ind(df: DataFrame, idCols: Seq[String], groupCol: String, valueCol: String,
      a: String, b: String): DataFrame =
    StatTests.tTestInd(df, idCols, groupCol, valueCol, a, b)
  def ttest_1samp(df: DataFrame, idCols: Seq[String], valueCol: String,
      popMean: Double = 0.0): DataFrame =
    StatTests.tTest1Samp(df, idCols, valueCol, popMean)
  def anova_1way(df: DataFrame, idCols: Seq[String], groupCol: String,
      valueCol: String): DataFrame =
    StatTests.anova1Way(df, idCols, groupCol, valueCol)
  def pca(df: DataFrame, idCol: String, sampleCol: String, valueCol: String,
      nComponents: Int = 2): Pca.PcaModel =
    Pca.fit(df, idCol, sampleCol, valueCol, nComponents)
  def plsda(spark: SparkSession, df: DataFrame, groupA: Set[String], groupB: Set[String],
      idCol: String, sampleCol: String, valueCol: String, nComponents: Int = 2): Pls.PlsModel = {
    val y = (groupA.map(_ -> 0.0) ++ groupB.map(_ -> 1.0)).toMap
    Pls.fit(spark, df, y, idCol, sampleCol, valueCol, nComponents)
  }
  def plsr(spark: SparkSession, df: DataFrame, y: Map[String, Double],
      idCol: String, sampleCol: String, valueCol: String, nComponents: Int = 2): Pls.PlsModel =
    Pls.fit(spark, df, y, idCol, sampleCol, valueCol, nComponents)
  def enrichment_from_msp(df: DataFrame, modificationsCol: String, sampleCol: String,
      valueCol: String, modification: String): DataFrame =
    Summaries.enrichmentFromMsp(df, modificationsCol, sampleCol, valueCol, modification)
  def sitespeptidesproteins(df: DataFrame): DataFrame = Summaries.sitesPeptidesProteins(df)
  /** `go_enrichment`'s data-plane tail (ref analysis.py:372-384): given
    * the parsed PantherDB response rows (columns GO, Name, `Gene ID`,
    * P, FDR), summarize per (GO, Name), gate on the FDR cut-off, sort
    * by P ascending. The HTTP POST itself (analysis.py:355-369) is a
    * driver-side client concern — zero-egress deployments inject the
    * response frame. Means use exact-decimal sums (Moments) so the
    * summary is deterministic at any partitioning. */
  def go_enrichment_process(go: DataFrame, fdr: Double = 0.05,
      summary: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, count}
    import graft.stats.Moments
    val base =
      if (summary)
        go.groupBy(col("GO"), col("Name")).agg(
          Moments.meanOf(Moments.sumAt(col("P"), 6), count(col("P"))).as("P"),
          Moments.meanOf(Moments.sumAt(col("FDR"), 6), count(col("FDR"))).as("FDR"))
      else go
    val gated = if (fdr > 0) base.filter(col("P") < fdr) else base
    gated.orderBy(col("P").asc)
  }
  /** `get_uniprot_id_mapping_pairs` application (ref utils.py:332-356):
    * the service response is a (from_id, to_id) pair table; attaching
    * it to a frame's protein ids is a broadcast equi-join (the mapping
    * is driver-small). The HTTP POST is driver-side client work. */
  def apply_id_mapping(df: DataFrame, mapping: DataFrame, idCol: String,
      fromCol: String = "from_id"): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    df.join(broadcast(mapping), col(idCol) === col(fromCol), "left").drop(fromCol)
  }
  /** ref utils.py:332-356, full client: POST to UniProt (flag-gated —
    * see RemoteClients) and return the (from_id, to_id) broadcast
    * table for [[apply_id_mapping]]. */
  def get_uniprot_id_mapping_pairs(spark: SparkSession, f: String, t: String,
      seqids: Seq[String]): DataFrame =
    graft.io.RemoteClients.getUniprotIdMappingPairs(spark, f, t, seqids)
  /** ref analysis.py:336-384, full client: POST to PantherDB
    * (flag-gated), then the data-plane summary/FDR-gate/sort. */
  def go_enrichment(spark: SparkSession, proteinIds: Seq[String],
      enrichment: String = "function", organism: String = "Homo sapiens",
      summary: Boolean = true, fdr: Double = 0.05): DataFrame =
    go_enrichment_process(
      graft.io.RemoteClients.goEnrichmentFetch(spark, proteinIds, enrichment, organism),
      fdr, summary)
  def modifiedaminoacids(df: DataFrame): DataFrame =
    df.groupBy(org.apache.spark.sql.functions.col("Amino acid"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))

  // ---- utils (padua/utils.py) ----
  def qvalues(df: DataFrame, pCol: String, qCol: String = "q", pi0: Double = 1.0): DataFrame =
    QValues.qvalues(df, pCol, qCol, pi0)
  def get_protein_id(c: Column): Column = ScalarFuncs.proteinId(c)
  def get_protein_ids(c: Column): Column = ScalarFuncs.proteinIds(c)
  def get_protein_id_list(df: DataFrame, column: String): DataFrame =
    ScalarFuncs.proteinIdList(df, column)
  def get_shortstr(c: Column): Column = ScalarFuncs.shortStr(c)
  def format_label(sep: String, parts: Column*): Column = ScalarFuncs.formatLabel(sep, parts: _*)
  def hierarchical_match[V](d: Map[Seq[String], V], k: Seq[String], default: V): V =
    ScalarFuncs.hierarchicalMatch(d, k, default)
  def calculate_s0_curve(absRatio: Column, s0: Double, minRatio: Double, minP: Double): Column =
    ScalarFuncs.s0CurveP(absRatio, s0, minRatio, minP)
  /** Rows with a null `orderCol` are DROPPED (no rank → no chunk) —
    * unlike a plain NTILE window, which ranks nulls first. See
    * DistributedRank.ntile. */
  def chunks(df: DataFrame, orderCol: String, tieCol: String, num: Int): DataFrame =
    graft.ops.DistributedRank.ntile(df, orderCol, Seq(tieCol), num)
  def find_nearest_idx(df: DataFrame, valueColumn: String, keyCol: String, value: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    df.agg(min_by(col(keyCol), struct(abs(col(valueColumn) - value), col(keyCol))).as("nearest"))
  }

  // ---- visualize data contracts (padua/visualize.py analytics) ----
  def volcano(df: DataFrame, idCols: Seq[String], groupCol: String, valueCol: String,
      control: String, comparison: String, minValidN: Int = 3, s0: Double = 0.5,
      minRatio: Double = 1.0, minP: Double = 0.05): DataFrame =
    Volcano.twoSample(df, idCols, groupCol, valueCol, control, comparison,
      minValidN, s0, minRatio, minP)
  def venn(a: DataFrame, b: DataFrame): Long = a.intersect(b).count()
  /** 3-frame form (ref visualize.py:979-1033, `df3` + `venn3`): the
    * reference returns the triple intersection. */
  def venn(a: DataFrame, b: DataFrame, c: DataFrame): Long =
    a.intersect(b).intersect(c).count()
  /** `venn(..., return_intersection=True)` (ref visualize.py:1027-1033):
    * the intersected key set itself, as a frame. */
  def venn_intersection(a: DataFrame, b: DataFrame, c: Option[DataFrame] = None): DataFrame =
    c.fold(a.intersect(b))(cc => a.intersect(b).intersect(cc))
  def hierarchical(spark: SparkSession, df: DataFrame, idCol: String, sampleCol: String,
      valueCol: String, nClusters: Int): DataFrame =
    Ward.clusterSamples(spark, df, idCol, sampleCol, valueCol, nClusters)
  def enrichment_from_evidence(df: DataFrame, modificationsCol: String,
      experimentCol: String, valueCol: String, modification: String): DataFrame =
    Summaries.enrichmentFromEvidence(df, modificationsCol, experimentCol, valueCol, modification)
  def modificationlocalization(df: DataFrame, probCol: String = "Localization prob"): DataFrame =
    Summaries.modificationLocalization(df, probCol)
  def quality_control(df: DataFrame): DataFrame = Summaries.qualityControl(df)
  def rankintensity(df: DataFrame, idCol: String, intensityCol: String): DataFrame =
    Summaries.rankIntensity(df, idCol, intensityCol)
  def comparedist(a: DataFrame, b: DataFrame, valueCol: String,
      bins: Int = 100, lo: Double = 0.0, hi: Double = 1.0): DataFrame =
    Summaries.compareDist(a, b, valueCol, bins, lo, hi)
  /** `compareimputed` compares the pre- and post-imputation frames —
    * the same two-sided distribution compare (visualize.py:1387-1435). */
  def compareimputed(original: DataFrame, imputed: DataFrame, valueCol: String,
      bins: Int = 100, lo: Double = 0.0, hi: Double = 1.0): DataFrame =
    Summaries.compareDist(original, imputed, valueCol, bins, lo, hi)
  /** `column_correlations` renders the sample×sample correlation matrix
    * — same data contract as `correlation` (visualize.py). */
  def column_correlations(df: DataFrame, idCols: Seq[String], sampleCol: String,
      valueCol: String): DataFrame =
    StatTests.correlationMatrix(df, idCols, sampleCol, valueCol)
  def box(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    Summaries.boxData(df, groupCols, valueCol)

  // ---- small driver-side helpers (padua/process.py, padua/utils.py) ----
  def numeric(c: Column): Column = ScalarFuncs.numericCoerce(c)
  /** `get_unique_indices` (process.py:166-173; implements the intent —
    * the reference body references an undefined `dif`, SURVEY §4.1):
    * distinct values per named column, driver-collected. */
  def get_unique_indices(df: DataFrame, columns: Seq[String]): Map[String, Seq[String]] =
    if (columns.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{col, collect_set}
      val aggs = columns.map(c => collect_set(col(c).cast("string")).as(c))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      columns.zipWithIndex
        .map { case (c, i) => c -> row.getSeq[String](i).sorted.toSeq }.toMap
    }
  /** `get_index_list` (utils.py:180-188): positions of the requested
    * labels within a label list (missing labels skipped). */
  def get_index_list(l: Seq[String], ms: Seq[String]): Seq[Int] =
    ms.filter(l.contains).map(l.indexOf)
  /** `build_combined_label` (utils.py:208-225): shortstr of each
    * selected entry, joined by `sep`; keys absent from `sl` are
    * skipped (tolerant where the reference would KeyError). */
  def build_combined_label(sl: Map[String, String], idxs: Seq[String], sep: String = " "): String =
    idxs.flatMap(sl.get).map(_.split(";")(0)).mkString(sep)
  /** `build_combined_label`'s `label_format` branch (utils.py:221-222):
    * printf-style template over the shortstr'd entries (`%s` slots —
    * the reference's `label_format % tuple(...)`). */
  def build_combined_label(sl: Map[String, String], idxs: Seq[String], sep: String,
      labelFormat: Option[String]): String = labelFormat match {
    case Some(fmt) => fmt.format(idxs.flatMap(sl.get).map(_.split(";")(0)): _*)
    case None      => build_combined_label(sl, idxs, sep)
  }
  /** `format_label`'s `fmt` branch (utils.py:190-204): template
    * formatting over the parts instead of the sep-join — Column-level
    * via `format_string` (codegen'd, no UDF). */
  def format_label_fmt(fmt: String, parts: Column*): Column =
    org.apache.spark.sql.functions.format_string(fmt, parts: _*)
}
