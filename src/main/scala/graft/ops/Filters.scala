package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row filters and regex column selection.
  *
  * Re-expression of the reference's `padua/filters.py` (see
  * `/root/reference/padua/filters.py`). All row filters are plain
  * Catalyst predicates so they push down to the parquet/CSV scan;
  * column selections are resolved driver-side against `df.columns`
  * (schema-level projection — zero runtime cost, prunes the scan).
  *
  * Null semantics: the reference keeps NaN rows on `!=` comparisons
  * (pandas `df[col] != match` is True for NaN). We reproduce that
  * intent with null-safe predicates: a null cell never matches the
  * removal pattern, so its row is KEPT.
  */
object Filters {

  /** Drop rows where `column == match` (null rows kept).
    * Ref: filters.py:4-18 `remove_rows_matching`. */
  def removeRowsMatching(df: DataFrame, column: String, matchVal: Any): DataFrame =
    df.filter(!(col(column) <=> lit(matchVal)))

  /** Drop rows where string form of `column` contains `sub` (null rows kept).
    * Ref: filters.py:21-35 `remove_rows_containing`. */
  def removeRowsContaining(df: DataFrame, column: String, sub: String): DataFrame =
    df.filter(!coalesce(col(column).cast("string").contains(sub), lit(false)))

  /** Drop MaxQuant decoy hits (`Reverse` contains '+').
    * Ref: filters.py:37-47 `remove_reverse`. */
  def removeReverse(df: DataFrame, column: String = "Reverse"): DataFrame =
    removeRowsContaining(df, column, "+")

  /** Drop contaminant rows; resolves first existing of the candidate
    * columns (modern `Potential contaminant` vs legacy `Contaminant`).
    * Ref: filters.py:49-61 `remove_contaminants` (implemented as the
    * documented intent; the reference body uses a removed pandas API). */
  def removeContaminants(
      df: DataFrame,
      candidates: Seq[String] = Seq("Potential contaminant", "Contaminant")): DataFrame =
    candidates.find(df.columns.contains) match {
      case Some(c) => removeRowsMatching(df, c, "+")
      case None    => df
    }

  /** Drop rows flagged `Only identified by site == '+'`.
    * Ref: filters.py:64-74. */
  def removeOnlyIdentifiedBySite(df: DataFrame, column: String = "Only identified by site"): DataFrame =
    removeRowsMatching(df, column, "+")

  /** Keep Class-I sites: `Localization prob >= threshold`.
    * Ref: filters.py:77-90 `filter_localization_probability`. */
  def filterLocalizationProbability(
      df: DataFrame, column: String = "Localization prob", threshold: Double = 0.75): DataFrame =
    df.filter(col(column) >= threshold)

  /** Keep rows where `sub` appears in ANY of `columns` (null-safe).
    * Ref: filters.py:132-152 `search`. */
  def search(df: DataFrame, sub: String, columns: Seq[String]): DataFrame =
    df.filter(
      columns
        .map(c => coalesce(col(c).cast("string").contains(sub), lit(false)))
        .reduce(_ || _))

  // ------------------------------------------------------------------
  // Column selection (driver-side regex over df.columns → narrow scan)
  // ------------------------------------------------------------------

  /** Drop columns whose NAME contains `sub`. Ref: filters.py:154-161. */
  def filterExclude(df: DataFrame, sub: String): DataFrame =
    df.select(df.columns.filterNot(_.contains(sub)).map(col).toIndexedSeq: _*)

  /** Keep columns matching `regex` plus the named metadata columns
    * (metadata first, matched order preserved — mirrors the
    * reference's concat order). Ref: filters.py:163-211 family. */
  def selectColumnsMatching(df: DataFrame, regex: String, keep: Seq[String] = Nil): DataFrame = {
    val r = regex.r
    val matched = df.columns.filter(c => r.findFirstIn(c).isDefined)
    df.select((keep ++ matched.filterNot(keep.contains)).map(col).toIndexedSeq: _*)
  }

  /** `filter_select_columns_intensity`: `^Intensity .*` + metadata.
    * Ref: filters.py:163-168. */
  def selectIntensityColumns(df: DataFrame, keep: Seq[String]): DataFrame =
    selectColumnsMatching(df, "^Intensity .+", keep)

  /** `filter_select_columns_ratio`: `^Ratio ./. normalized.*` + metadata.
    * Ref: filters.py:170-174. */
  def selectRatioColumns(df: DataFrame, keep: Seq[String]): DataFrame =
    selectColumnsMatching(df, "^Ratio ./. normalized.*", keep) // ref regex filters.py:174 verbatim

  /** `filter_intensity` family (ref filters.py:177-211): keep all
    * non-`prefix` columns plus the `prefix` columns matching a sample
    * label (and optional `___k` multiplicity suffix). Order: metadata
    * first, then matched expression columns — the reference's concat
    * order. */
  def filterPrefixedByLabel(
      df: DataFrame, prefix: String, label: String,
      withMultiplicity: Boolean = false): DataFrame = {
    val mult = if (withMultiplicity) "(___\\d)?" else ""
    val r = ("^" + java.util.regex.Pattern.quote(prefix) + " *" +
      java.util.regex.Pattern.quote(label) + mult + "$").r
    val isPrefixed = (c: String) => c.startsWith(prefix)
    val meta = df.columns.filterNot(isPrefixed)
    val matched = df.columns.filter(c => isPrefixed(c) && r.findFirstIn(c).isDefined)
    df.select((meta ++ matched).map(col).toIndexedSeq: _*)
  }

  def filterIntensity(df: DataFrame, label: String = "", withMultiplicity: Boolean = false): DataFrame =
    filterPrefixedByLabel(df, "Intensity", label, withMultiplicity)
  def filterIntensityLfq(df: DataFrame, label: String = "", withMultiplicity: Boolean = false): DataFrame =
    filterPrefixedByLabel(df, "LFQ intensity", label, withMultiplicity)
  def filterRatio(df: DataFrame, label: String = "", withMultiplicity: Boolean = false): DataFrame =
    filterPrefixedByLabel(df, "Ratio", label, withMultiplicity)

  /** REF-EXACT `filter_intensity` family (ref filters.py:177-211),
    * regex-for-regex, quirks included — used by the notebook-faithful
    * replication path (graft.NotebookParity / tools/notebook_parity.py):
    *
    *   - metadata = columns NOT STARTING with the prefix (the ref's
    *     negative lookahead `^(?!prefix).*$`). Real MaxQuant writes
    *     `LFQ intensity ...` (lowercase i) while the ref template says
    *     `LFQ Intensity`, so on real data `filter_intensity_lfq` is a
    *     case-mismatch NO-OP — File S-1's Data Processing notebook
    *     relies on exactly that;
    *   - the intensity/LFQ match templates bake a trailing `.*__\d`
    *     multiplicity requirement in, and `withMultiplicity=true` adds
    *     ANOTHER `.*__\d` via the label (filters.py:182,194) — the
    *     doubled requirement matches zero real columns;
    *   - the ratio template (filters.py:209) has no `__\d` tail;
    *   - `label` splices into the pattern unquoted, as a regex.
    *
    * Matched expression columns land AFTER the metadata block (the
    * ref's concat order). A column landing in both halves would be
    * DUPLICATED by `pd.concat`; Spark frames can't carry duplicate
    * names, so it is kept once (documented divergence — no MaxQuant
    * column embeds its own prefix mid-name). The intent-based
    * [[filterIntensity]]/[[filterIntensityLfq]]/[[filterRatio]] above
    * remain the default API. */
  def refExactPrefixFilter(df: DataFrame, prefix: String, label: String = "",
      withMultiplicity: Boolean = false, requireMultSuffix: Boolean = true): DataFrame = {
    val labelEff = label + (if (withMultiplicity) ".*__\\d" else "")
    val tail = if (requireMultSuffix) ".*__\\d" else ""
    val matchR =
      ("^(.*" + java.util.regex.Pattern.quote(prefix) + ".*" + labelEff + tail + ")$").r
    val meta = df.columns.filterNot(_.startsWith(prefix))
    val matched = df.columns.filter(c => matchR.findFirstIn(c).isDefined)
    df.select((meta ++ matched.filterNot(meta.contains)).map(col).toIndexedSeq: _*)
  }

  def filterIntensityLfqExact(df: DataFrame, label: String = "", withMultiplicity: Boolean = false): DataFrame =
    refExactPrefixFilter(df, "LFQ Intensity", label, withMultiplicity, requireMultSuffix = true)

  /** `strip_index_labels` (ref process.py:178-195): remove a substring
    * from every column label. */
  def stripColumnLabels(df: DataFrame, strip: String): DataFrame =
    df.toDF(df.columns.map(_.replace(strip, "")).toIndexedSeq: _*)

  // ------------------------------------------------------------------
  // Group-validity filter (shuffle-bearing)
  // ------------------------------------------------------------------

  /** LONG-FORM `minimum_valid_values_in_any_group` (ref filters.py:93-129):
    * keep features (`idCols`) having >= `n` non-null `valueCol`
    * observations in AT LEAST ONE group (`groupCols`).
    *
    * Plan shape: one pass over the input. `count(value)` over an
    * id-partitioned window ordered by the group columns with a
    * `RANGE CURRENT ROW` peer frame is the per-(id, group) count; a
    * second window over the same id partition takes its max, and the
    * row filter keeps the features whose max reaches `n`. Both windows
    * share one exchange (`hashpartitioning(id)`) and one sort, and the
    * caller's lineage is referenced once — a count-then-semi-join
    * formulation re-executes everything upstream for its key side.
    * Rows with a NULL in any id column are dropped: a NULL key names no
    * feature (the SQL `IN (subquery)` image of this filter drops them
    * the same way).
    *
    * At scale: one full-data shuffle plus a sort by (id, group),
    * instead of a second full read of the upstream plus a key-sized
    * semi-join. On input already clustered by the id (a bucketed
    * layout) the exchange disappears and the filter needs no shuffle
    * at all; downstream aggregations keyed by the id (or a superset)
    * reuse the same partitioning.
    */
  def minimumValidValuesInAnyGroup(
      df: DataFrame,
      idCols: Seq[String],
      groupCols: Seq[String],
      valueCol: String,
      n: Long): DataFrame = {
    val byId = Window.partitionBy(idCols.map(col): _*)
    val groupPeers = byId.orderBy(groupCols.map(col): _*)
      .rangeBetween(Window.currentRow, Window.currentRow)
    df.filter(idCols.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("_valid", count(col(valueCol)).over(groupPeers))
      .withColumn("_max_valid", max(col("_valid")).over(byId))
      .filter(col("_max_valid") >= n)
      .drop("_valid", "_max_valid")
  }
}
