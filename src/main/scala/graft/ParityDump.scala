package graft

import org.apache.spark.sql.functions._
import graft.io.MaxQuant
import graft.ops.{Filters, Normalize, Reshape}

/** Parity harness (SURVEY §5.2.4): reads a MaxQuant-style fixture TSV,
  * applies the engine's filter/reshape/normalize chain, dumps each
  * stage as CSV for tools/parity.py to diff against the reference
  * (padua itself, run in pandas) on the same fixture.
  */
object ParityDump {
  def main(args: Array[String]): Unit = {
    val Array(fixture, outDir) = args
    val spark = Sessions.harness("ERROR")

    val raw = MaxQuant.readMaxQuant(spark, fixture)

    def dump(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/$name")

    // stage 1: decoy/contaminant removal
    val s1 = Filters.removeContaminants(Filters.removeReverse(raw))
    dump(s1.select(col("id")), "after_flags")

    // stage 2: localization probability filter
    val s2 = Filters.filterLocalizationProbability(s1)
    dump(s2.select(col("id")), "after_locprob")

    // stage 3: expand side table
    val s3 = Reshape.expandSideTable(s2)
    dump(s3.select(col("id"), col("Multiplicity"),
      col("Intensity A1"), col("Intensity B1")), "after_expand")

    // stage 4: log2 + median centering on the long form
    val intensityCols = s3.columns.filter(_.startsWith("Intensity ")).toSeq
    val long = Reshape.unpivot(s3, Seq("id"), intensityCols,
        nameCol = "sample", valueCol = "value")
      .withColumn("value", Reshape.infToNull(log2(col("value"))))
    val centered = Normalize.subtractColumnMedian(long, "sample", "value")
    dump(centered.select(col("id"), col("sample"),
      format_number(col("value"), 9).as("value")), "after_median")

    // stage 5: search (ref filters.py:132-152 runs against its fixed
    // candidate column list; only Proteins exists in the fixture)
    dump(Filters.search(raw, "P00012", Seq("Proteins")).select(col("id")),
      "after_search")

    // stage 6: transform_expression_columns (log2, ±inf→NaN) applied
    // by the REFERENCE'S OWN function in the checker — values compared
    // per (id, column) at 1e-9
    val rawIntensity = raw.columns.filter(_.startsWith("Intensity ")).toSeq
    dump(Reshape.transformExpressionColumns(raw, rawIntensity)
      .select((col("id") +: rawIntensity.map(c => format_number(col(c), 9).as(c))): _*),
      "after_log2")

    // stage 7: strip_index_labels — column-name surgery only
    dump(Filters.stripColumnLabels(raw, "Intensity ").limit(1), "after_strip")

    // stage 8: get_index_list + build_combined_label (ref utils.py:179,
    // 208-225) — per-row labels via both the sep and label_format
    // paths, plus the column-position lookup as a constant column
    val idxs = graft.functions.ScalarFuncs.indexList(
      raw.columns.toSeq, Seq("Amino acid", "No such column", "Proteins"))
    dump(raw.select(col("id"),
      graft.functions.ScalarFuncs.combinedLabel(" ",
        col("Proteins"), col("Amino acid")).as("label_sep"),
      graft.functions.ScalarFuncs.combinedLabelFmt("%s [%s]",
        col("Proteins"), col("Amino acid")).as("label_fmt"),
      lit(idxs.mkString(";")).as("index_list")), "after_labels")

    // timed single-pass run of the whole chain (session already warm)
    // for the pandas-vs-engine throughput comparison (tools/parity.py
    // bench mode): count() forces the full pipeline without the CSV
    // sink overhead.
    val t0 = System.nanoTime()
    val n = centered.count()
    println(f"PIPELINE_SECONDS=${(System.nanoTime() - t0) / 1e9}%.3f ROWS=$n")

    spark.stop()
  }
}
