package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MaxQuant / Perseus table IO (ref `padua/io.py`). */
object MaxQuant {

  /** `read_maxquant` (ref io.py:6-18): TSV scan with header row;
    * `id` stays a regular column (Spark has no row index — SURVEY
    * §1.4). Distributed CSV scan: header parsing is per-file, splits
    * parallelize. The schema is inferred on the first read of a file
    * and memoised ([[SchemaMemo]]): a re-read of the unchanged file
    * under the same SQL confs runs no inference job. */
  def readMaxQuant(spark: SparkSession, path: String): DataFrame =
    SchemaMemo.read(spark, path, "csv",
      Map("sep" -> "\t", "header" -> "true", "inferSchema" -> "true"))

  /** Perseus type codes (ref io.py:44-65 FIELD_TYPE_MAP): C
    * categorical, N numeric, T text, E expression (default). */
  val fieldTypeMap: Map[String, String] = Map(
    "Amino acid" -> "C", "Charge" -> "C", "Reverse" -> "C",
    "Potential contaminant" -> "C", "Multiplicity" -> "C",
    "Localization prob" -> "N", "PEP" -> "N", "Score" -> "N",
    "Delta score" -> "N", "Score for localization" -> "N",
    "Mass error [ppm]" -> "N", "Intensity" -> "N", "Position" -> "N",
    "Proteins" -> "T", "Positions within proteins" -> "T",
    "Leading proteins" -> "T", "Protein names" -> "T", "Gene names" -> "T",
    "Sequence window" -> "T", "Unique identifier" -> "T")

  /** `read_perseus` (ref io.py:21-30): TSV with a label row plus up to
    * 3 `#!{...}` annotation rows (a full Perseus export has 4 header
    * rows; the reference's own `write_perseus` emits 2); only level 0
    * (the labels) is kept. The Perseus type row maps C/T → string,
    * N/E → double.
    *
    * The header block is read driver-side (it is metadata, not data);
    * annotation rows are recognized by their `#!` first-cell marker,
    * never by position, so 2-row and 4-row header blocks both parse.
    * The bulk scan is a distributed CSV read with an explicit schema
    * and the header rows filtered out.
    *
    * Accepts BOTH Perseus forms: the reference's single file (label +
    * `#!` rows + data), and [[writePerseus]]'s warehouse-scale layout —
    * a directory of headerless part CSVs with the 2-line header block
    * in a `_perseus_header.tsv` sidecar. For the directory form the
    * header comes from the sidecar and the data plane is a plain
    * distributed scan over the parts (Spark's file listing skips
    * `_`-prefixed files, so the sidecar never pollutes the scan) — no
    * driver-side funnel at any size, closing the round-trip without
    * the single-file path. */
  def readPerseus(spark: SparkSession, path: String): DataFrame = {
    val asDir = new java.io.File(path)
    val sidecar = new java.io.File(asDir, "_perseus_header.tsv")
    if (asDir.isDirectory && sidecar.exists()) {
      val headerLines = java.nio.file.Files.readAllLines(sidecar.toPath)
      val labels = headerLines.get(0).split("\t", -1)
      val typeRow = (1 until headerLines.size).map(headerLines.get)
        .find(_.contains("#!{Type}"))
        .map(_.split("\t", -1).map(_.replace("#!{Type}", "")))
        .getOrElse(Array.fill(labels.length)("E"))
      val raw = spark.read
        .option("sep", "\t")
        .option("header", "false")
        .schema(StructType(labels.map(StructField(_, StringType))))
        .csv(path)
      return applyPerseusTypes(raw, labels, typeRow)
    }
    val src = scala.io.Source.fromFile(path)
    val headerLines = try {
      val it = src.getLines()
      val labelLine = it.next()
      labelLine :: it.take(3).toList.takeWhile(_.split("\t", -1).head.startsWith("#!"))
    } finally src.close()
    val labels = headerLines.head.split("\t", -1)
    val typeRow = headerLines
      .find(_.contains("#!{Type}"))
      .map(_.split("\t", -1).map(_.replace("#!{Type}", "")))
      .getOrElse(Array.fill(labels.length)("E"))
    // Read all-strings first so the header block's raw text is visible
    // to the filter (with a typed schema, annotation cells in numeric
    // columns would parse to null and become indistinguishable from
    // data). Types are applied as cast projections after the filter —
    // still one distributed pass. Header rows are matched by their
    // first field (the label, or the #! marker); data rows never carry
    // either in MaxQuant/Perseus tables.
    val first = coalesce(col(labels.head), lit(""))
    val raw = spark.read
      .option("sep", "\t")
      .option("header", "false")
      .schema(StructType(labels.map(StructField(_, StringType))))
      .csv(path)
      .filter(first =!= labels.head && !first.startsWith("#!"))
    applyPerseusTypes(raw, labels, typeRow)
  }

  /** Cast the all-string scan to Perseus types: N/E → double via
    * try_cast (malformed numerics coerce to null — pandas semantics —
    * instead of throwing under Spark 4's default ANSI mode); C/T stay
    * string. */
  private def applyPerseusTypes(
      raw: DataFrame, labels: Array[String], typeRow: Array[String]): DataFrame =
    raw.select(labels.zip(typeRow).map { case (name, t) =>
      if (t == "N" || t == "E") col(name).try_cast("double").as(name) else col(name)
    }.toIndexedSeq: _*)

  private def perseusTypeRow(columns: Seq[String]): Seq[String] =
    columns.zipWithIndex.map { case (c, i) =>
      val t = fieldTypeMap.getOrElse(c, "E")
      if (i == 0) s"#!{Type}$t" else t
    }

  /** `write_perseus` (ref io.py:33-82): TSV with the `#!{Type}`
    * annotation row between header and data.
    *
    * Scale divergence (documented): the reference writes one local
    * file. Here the data plane writes distributed part files and the
    * 2-line header block goes to a `_perseus_header.tsv` sidecar; pass
    * `singleFile=true` to coalesce(1) for small exports. For the
    * reference's exact one-file-with-injected-type-row output, use
    * [[writePerseusFile]]. */
  def writePerseus(df: DataFrame, dir: String, singleFile: Boolean = false): Unit = {
    val header = df.columns.mkString("\t") + "\n" +
      perseusTypeRow(df.columns.toIndexedSeq).mkString("\t") + "\n"
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("sep", "\t").option("header", "false").csv(dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_perseus_header.tsv"), header)
  }

  /** `write_perseus` single-file semantics (ref io.py:33-82): ONE TSV —
    * label row, `#!{Type}` annotation row, then data — readable back
    * by [[readPerseus]] with types intact. The data plane is a
    * coalesce(1) distributed write (this is a small-export interop
    * path; large tables belong in [[writePerseus]]'s partitioned form);
    * the header block is injected by a driver-side stream concat of
    * the single part file, never by buffering the data in memory.
    *
    * SIZE GUARD: coalesce(1) funnels the whole table through one task
    * — correct for notebook-scale exports, catastrophic for a
    * warehouse table. The write refuses when Catalyst's optimized-plan
    * size estimate exceeds `maxBytes` (default 4 GiB) and points at
    * [[writePerseus]] instead; raise the cap explicitly for a
    * deliberate large single-file export. Without CBO stats the plan
    * estimate over-counts badly (joins MULTIPLY child sizes, filters
    * pass child sizes through unreduced), so a notebook-scale frame
    * can estimate absurdly high; rather than spuriously refuse, an
    * over-estimate triggers a second, MEASURED bound — one aggregate
    * job summing the actual TSV byte width of every cell (string
    * octet_length + separators; exact up to numeric-formatting slack,
    * unlike a row count × fixed per-type widths, which undercounts
    * long text by orders of magnitude) — and only a table that fails
    * BOTH is refused. The measurement is a full scan of the about-to-
    * be-exported frame; it only runs on the over-estimate path, where
    * the alternative is either refusing a legitimate notebook export
    * or coalesce(1)-ing a warehouse table. The guard is a tripwire
    * against the 100 TB notebook port, not an exact quota. */
  def writePerseusFile(
      df: DataFrame,
      path: String,
      maxBytes: Long = 4L << 30): Unit = {
    val estimated = df.queryExecution.optimizedPlan.stats.sizeInBytes
    lazy val measuredBytes: BigInt = {
      import org.apache.spark.sql.functions.{coalesce, col, lit, octet_length, sum}
      val cellBytes = df.columns.toSeq.map(c =>
        coalesce(octet_length(col(c).cast("string")), lit(0)).cast("decimal(38,0)"))
      // + ncols per row: (ncols-1) tab separators and the newline
      val rowBytes = cellBytes.reduce(_ + _) + lit(df.columns.length)
      Option(df.agg(sum(rowBytes)).head().getDecimal(0))
        .map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    }
    require(
      estimated <= BigInt(maxBytes) || measuredBytes <= BigInt(maxBytes),
      s"writePerseusFile coalesces to ONE file; plan size estimate " +
        s"$estimated B and measured TSV size $measuredBytes B both " +
        s"exceed maxBytes=$maxBytes (the plan estimate alone " +
        s"over-counts through joins/filters without CBO — the " +
        s"measured byte sum is decisive). Use writePerseus " +
        s"(partitioned, header sidecar) for large tables, or pass an " +
        s"explicit higher maxBytes for a deliberate single-file export.")
    val tmp = path + "._perseus_tmp"
    df.coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "false").csv(tmp)
    val part = Option(new java.io.File(tmp).listFiles()).toSeq.flatten
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .getOrElse(sys.error(s"no csv part file written under $tmp"))
    val header = (df.columns.mkString("\t") + "\n" +
      perseusTypeRow(df.columns.toIndexedSeq).mkString("\t") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val os = java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path))
    try { os.write(header); java.nio.file.Files.copy(part.toPath, os) }
    finally os.close()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(tmp))
  }

  /** `write_phosphopath` (ref io.py:95-127): derive
    * (protein, protein-Rsite, Rsite, multiplicity) via string surgery
    * — all codegen'd Column exprs, no UDFs. Input columns follow the
    * long-form model: Proteins / Amino acid / Positions /
    * Multiplicity as regular columns. */
  def phosphopathFrame(df: DataFrame): DataFrame = {
    val protein = split(split(split(split(col("Proteins"), ";").getItem(0), " ").getItem(0),
      "_").getItem(0), "-").getItem(0)
    val position = split(split(split(col("Positions").cast("string"), ";").getItem(0), " ")
      .getItem(0), "_").getItem(0).try_cast("int").cast("string")
    val apos = concat(col("Amino acid"), position)
    df.select(
      protein.as("protein"),
      concat_ws("-", protein, apos).as("protein_rsite"),
      apos.as("rsite"),
      substring(col("Multiplicity").cast("string"), -1, 1).as("multiplicity"))
  }

  def writePhosphopath(df: DataFrame, dir: String): Unit =
    phosphopathFrame(df).coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "false").csv(dir)

  /** `write_phosphopath_ratio` (ref io.py:129-185): per-site ratio of
    * control-group mean to each comparison-group mean, encoded as
    * `protein-Rsite-mult-timepoint`. Long-form: two conditional avgs
    * per feature + ratio; timepoints ordinal-encoded (dense_rank over
    * the distinct timepoint domain — driver-tiny). */
  def phosphopathRatioFrame(
      long: DataFrame,
      groupCol: String,
      timepointCol: String,
      valueCol: String,
      control: String,
      comparisons: Seq[(String, Int)]): DataFrame = {
    val tpOrdinal = comparisons.map(_._2).distinct.sorted.zipWithIndex.toMap
    val frames = comparisons.map { case (grp, tp) =>
      val inScope = long.filter(
        (col(groupCol) === control) ||
        (col(groupCol) === grp && col(timepointCol) === tp))
      inScope
        .groupBy(col("protein"), col("rsite"), col("multiplicity"))
        .agg(
          avg(when(col(groupCol) === control, col(valueCol))).as("_ma"),
          avg(when(col(groupCol) === grp, col(valueCol))).as("_mc"))
        .select(
          concat_ws("-", col("protein"), col("rsite"),
            col("multiplicity").cast("string"),
            lit((tpOrdinal(tp) + 1).toString)).as("ID"),
          (try_divide(col("_ma"), col("_mc"))).as("Ratio"))
    }
    frames.reduce(_ unionByName _)
  }

  /** `write_r` (ref io.py:188-203): CSV with index tuple columns
    * joined by `@`. (The reference also overwrites the column labels
    * from the row index — a bug, io.py:202; implemented as intended:
    * data columns unchanged.) */
  def rFrame(df: DataFrame, indexCols: Seq[String], sep: String = "@"): DataFrame =
    df.select(
      (concat_ws(sep, indexCols.map(c => col(c).cast("string")): _*).as("index") +:
        df.columns.filterNot(indexCols.contains).map(col).toSeq): _*)
}
