package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reshape / pivot / unpivot operators (ref `padua/process.py`). */
object Reshape {

  /** Generic unpivot: fold `valueCols` into rows `(keyCols..., nameCol, valueCol)`.
    *
    * Uses Spark's native `unpivot` (single narrow pass, no shuffle, one
    * output row per (row, folded column) — the Catalyst `Expand` node),
    * which is the engine's core wide→long converter (SURVEY §1.4).
    */
  def unpivot(
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      nameCol: String = "sample",
      valueCol: String = "value"): DataFrame =
    df.unpivot(keyCols.map(col).toArray, valueCols.map(col).toArray, nameCol, valueCol)

  /** Perseus "expand side table" (ref process.py:221-277): fold
    * multiplicity-suffixed columns `base___1/___2/___3` down into rows,
    * replicating unsuffixed columns, adding a `Multiplicity` column and
    * remapping `id -> id___k` (ref process.py:272).
    *
    * Plan shape: ONE projection over the input. Each multiplicity is a
    * struct of (remapped id, value bases…, Multiplicity) and
    * `inline(array(struct…))` emits the k rows — a Catalyst `Generate`
    * node, so the source is scanned once and nothing upstream re-runs
    * per multiplicity (a union of k projections would scan k times).
    * The unsuffixed columns pass through the generator unchanged.
    * Output columns: base…, value bases…, `Multiplicity`.
    */
  def expandSideTable(df: DataFrame, suffixes: Seq[String] = Seq("___1", "___2", "___3"),
      idCol: String = "id"): DataFrame = {
    val suffixed = df.columns.filter(c => suffixes.exists(c.endsWith))
    // value base of each suffixed column, in first-seen order
    val valueBases = suffixed.map(c =>
      suffixes.find(c.endsWith).map(c.stripSuffix).getOrElse(c)).distinct
    // a plain column whose name equals a suffix-stripped expression
    // column (e.g. `Intensity X` next to `Intensity X___1`) would
    // collide with the ripped column — the reference drops it from the
    // replicated side (process.py:252-254); mirrored here
    val base = df.columns.filterNot(suffixed.contains)
      .filterNot(c => c != idCol && valueBases.contains(c))
    val mult = "Multiplicity"
    // every requested multiplicity gets a row, like the reference
    // (process.py:247-268 always emits ___1/___2/___3): a suffix with
    // no matching columns contributes typed all-null expression cells
    // (verified against padua itself by tools/parity.py)
    def typeOf(baseName: String) =
      df.schema(suffixes.map(baseName + _).find(df.columns.contains).get).dataType
    val remapId = base.contains(idCol)
    val rows = suffixes.map { sfx =>
      val id = if (remapId) Seq(concat(col(idCol).cast("string"), lit(sfx)).as(idCol)) else Nil
      val cells = valueBases.map { b =>
        if (df.columns.contains(b + sfx)) col(b + sfx).as(b)
        else lit(null).cast(typeOf(b)).as(b)
      }
      struct(id ++ cells :+ lit(sfx.stripPrefix("___").toInt).as(mult): _*)
    }
    // an input `Multiplicity` column keeps its position but takes the
    // generated value
    val passThrough = base.filterNot(c => c == idCol || c == mult)
    val order = base ++ valueBases ++ (if (base.contains(mult)) Nil else Seq(mult))
    df.select(passThrough.map(col).toIndexedSeq :+ inline(array(rows: _*)): _*)
      .select(order.map(col).toIndexedSeq: _*)
  }

  /** Apply a Column transformer to expression columns with the
    * reference's `±inf → null` guard (ref process.py:309-327
    * `transform_expression_columns`, default log2). Accepting
    * `Column => Column` keeps user functions inside Catalyst codegen
    * (no opaque UDF). */
  def transformExpressionColumns(
      df: DataFrame,
      columns: Seq[String],
      fn: Column => Column = log2): DataFrame = {
    val exprs = df.columns.map { c =>
      if (columns.contains(c)) nanToNull(infToNull(fn(col(c)))).as(c) else col(c)
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** ±Infinity → null (pandas `replace([inf,-inf], nan)` idiom). */
  def infToNull(c: Column): Column =
    when(c === Double.PositiveInfinity || c === Double.NegativeInfinity, lit(null)).otherwise(c)

  /** NaN → null: single missingness policy at math edges (SURVEY §7.4). */
  def nanToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** Mean of column pairs → combined column, originals dropped
    * (ref process.py:198-218 `combine_expression_columns`). */
  def combineExpressionColumns(df: DataFrame, pairs: Seq[(String, String, String)]): DataFrame = {
    val dropped = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val keep = df.columns.filterNot(dropped.contains).map(col)
    val combined = pairs.map { case (a, b, out) => ((col(a) + col(b)) / 2).as(out) }
    df.select(keep.toIndexedSeq ++ combined: _*)
  }
}
