package graft.pipeline

import graft.SparkSpec
import graft.stats.{Summaries, Volcano}
import graft.ops.{Design, Filters, Normalize, Reshape}
import graft.functions.ScalarFuncs
import graft.text.DedupIndex
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic MaxQuant site table (FIXTURES.md §1 shape): 2 groups ×
    * 3 replicates, multiplicity ___1/___2, a decoy, a contaminant and
    * a low-probability site; feature f1 strongly regulated. */
  private def sites = {
    def row(id: Int, prob: Double, rev: String, cont: String,
        a: Seq[Double], b: Seq[Double]) =
      (id, "P%05d".format(id), "S", prob, rev, cont,
        a(0), a(1), a(2), b(0), b(1), b(2),
        a(0) / 2, a(1) / 2, a(2) / 2, b(0) / 2, b(1) / 2, b(2) / 2)
    // background sites keep median normalization honest: median
    // centering assumes most features are unregulated
    val background = (6 to 15).map { i =>
      val base = 100.0 * i
      row(i, 0.99, "", "",
        Seq(base, base * 1.05, base * 0.95), Seq(base * 1.02, base * 0.98, base))
    }
    val rows = Seq(
      row(1, 0.99, "", "", Seq(100.0, 110.0, 105.0), Seq(1600.0, 1700.0, 1650.0)),
      row(2, 0.95, "", "", Seq(200.0, 210.0, 205.0), Seq(205.0, 200.0, 210.0)),
      row(3, 0.99, "+", "", Seq(300.0, 310.0, 305.0), Seq(300.0, 310.0, 305.0)),
      row(4, 0.99, "", "+", Seq(400.0, 410.0, 405.0), Seq(400.0, 410.0, 405.0)),
      row(5, 0.30, "", "", Seq(500.0, 510.0, 505.0), Seq(500.0, 510.0, 505.0))) ++ background
    rows.toDF("id", "Proteins", "Amino acid", "Localization prob",
      "Reverse", "Potential contaminant",
      "Intensity A1___1", "Intensity A2___1", "Intensity A3___1",
      "Intensity B1___1", "Intensity B2___1", "Intensity B3___1",
      "Intensity A1___2", "Intensity A2___2", "Intensity A3___2",
      "Intensity B1___2", "Intensity B2___2", "Intensity B3___2")
  }

  private def design = Seq(
    ("A1", "Control", 1, 1), ("A2", "Control", 2, 1), ("A3", "Control", 3, 1),
    ("B1", "Treat", 1, 1), ("B2", "Treat", 2, 1), ("B3", "Treat", 3, 1)
  ).toDF("Label", "Group", "Replicate", "Technical")

  test("phosphoLfq end-to-end: decoys/contaminants/low-prob dropped, regulated site flagged") {
    val out = Pipelines.phosphoLfq(sites, design,
      control = "Control", comparison = "Treat").cache()
    val ids = out.select("id").as[String].collect().toSet
    // ids carry the ___k multiplicity suffix after expand_side_table
    assert(ids.forall(id => id.startsWith("1_") || id.startsWith("2_")
      || id.contains("___")))
    assert(!ids.exists(_.startsWith("3")), "decoy survived")
    assert(!ids.exists(_.startsWith("4")), "contaminant survived")
    assert(!ids.exists(_.startsWith("5")), "low-prob site survived")
    val sig = out.filter(col("significant")).select("id").as[String].collect().toSet
    assert(sig.exists(_.startsWith("1")), "regulated site not flagged")
    assert(!sig.exists(_.startsWith("2")), "flat site flagged")
    // log2 fold change of f1 ≈ 4 (1600/100); median-centering shifts both
    // groups equally so the ratio is preserved
    val r1 = out.filter(col("id") === "1___1").head()
    assert(math.abs(r1.getAs[Double]("ratio") - 4.0) < 0.2)
  }

  /** The phosphoLfq body with no stage: one lineage from the sites
    * frame to the volcano table. */
  private def unstagedLfq = {
    val filtered = Filters.filterLocalizationProbability(
      Filters.removeContaminants(Filters.removeReverse(sites)), threshold = 0.75)
    val expanded = Reshape.expandSideTable(filtered)
    val intensityCols = expanded.columns.filter(_.startsWith("Intensity "))
    val long0 = Reshape.unpivot(expanded,
      expanded.columns.filterNot(intensityCols.contains).toSeq,
      intensityCols.toSeq, nameCol = "sample", valueCol = "value")
    val long = Normalize.subtractColumnMedian(
      long0.withColumn("value", Reshape.infToNull(log2(col("value")))), "sample", "value")
    val annotated = Design.buildIndexFromDesign(
      long, design, removePrefixes = Seq("Intensity "), keepUnmatched = false)
    val valid = Filters.minimumValidValuesInAnyGroup(annotated, Seq("id"), Seq("Group"), "value", 2L)
    val collapsed = Summaries.collapseTechnicalReplicates(
      valid, Seq("id"), Seq("Group", "Replicate"), "value")
    Volcano.twoSample(collapsed, Seq("id"), "Group", "value", "Control", "Treat",
      minValidN = 2, s0 = 0.5, minRatio = 0.5, minP = 0.05)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq

  test("phosphoLfq: the staged chain returns exactly the rows of the unstaged one") {
    val staged = Pipelines.phosphoLfq(sites, design, control = "Control", comparison = "Treat")
    val expected = unstagedLfq
    assert(staged.columns.toSeq == expected.columns.toSeq)
    val rows = sortedRows(staged)
    assert(rows.nonEmpty && rows == sortedRows(expected))
  }

  test("phosphoLfq: a staged block that is gone is recomputed from lineage") {
    val out = Pipelines.phosphoLfq(sites, design, control = "Control", comparison = "Treat")
    val first = sortedRows(out)
    val staged = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.distinct
    assert(staged.size == 1)
    assert(staged.head.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    staged.head.unpersist(blocking = true)
    // a fresh plan over the same frame reads the leaf again (a second
    // collect of `out` itself would reuse its shuffle files); a local
    // checkpoint has no lineage, and its lost blocks fail the job
    assert(sortedRows(out.select(out.columns.map(col).toSeq: _*)) == first)
  }

  test("silacRatio one-sample volcano flags shifted ratios") {
    val pg = Seq(
      (1, "", "", "", 4.0, 4.2, 4.1), // strongly shifted (log2 ≈ 2)
      (2, "", "", "", 1.0, 1.05, 0.95), // centered at log2 ≈ 0
      (3, "+", "", "", 9.0, 9.0, 9.0)
    ).toDF("id", "Reverse", "Potential contaminant", "Only identified by site",
      "Ratio H/L normalized E1", "Ratio H/L normalized E2", "Ratio H/L normalized E3")
    val design = Seq(
      ("Ratio H/L normalized E1", "HL", 1),
      ("Ratio H/L normalized E2", "HL", 2),
      ("Ratio H/L normalized E3", "HL", 3)
    ).toDF("Label", "Group", "Replicate")
    val out = Pipelines.silacRatio(pg, design)
    val sig = out.filter(col("significant"))
      .select("id").as[Int].collect().toSet
    assert(sig == Set(1))
    assert(out.count() == 2) // decoy removed
  }

  test("enrichmentFromMsp: zero treated as missing, ratio per sample") {
    val df = Seq(
      ("Phospho (STY) x1", "s1", 10.0), ("Unmodified", "s1", 30.0),
      ("Phospho (STY)", "s2", 0.0), ("Unmodified", "s2", 5.0)
    ).toDF("Modifications", "sample", "value")
    val out = Summaries.enrichmentFromMsp(df, "Modifications", "sample", "value", "Phospho (STY)")
      .collect().map(r => r.getString(0) -> Option(r.getAs[Double]("enrichment"))).toMap
    assert(approx(out("s1").get, 0.25))
    assert(out("s2").isEmpty || out("s2").contains(0.0)) // zero intensity = missing
  }

  test("sitesPeptidesProteins counts Class-I summary") {
    val df = Seq(
      (0.99, "WINDOW1", "P1;P2"), (0.80, "WINDOW1", "P1"), (0.10, "WINDOW2", "P9"))
      .toDF("Localization prob", "Sequence window", "Proteins")
    val r = Summaries.sitesPeptidesProteins(df).head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 1 && r.getLong(2) == 1)
  }

  test("covarianceEllipse matches closed-form 2x2 eigen") {
    val rng = new scala.util.Random(1)
    val pts = (1 to 2000).map { _ =>
      val x = rng.nextGaussian() * 3
      (x, x * 0.5 + rng.nextGaussian() * 0.1)
    }
    val e = Summaries.covarianceEllipseDf(pts.toDF("x", "y"), "x", "y").head()
    assert(math.abs(e.getAs[Double]("cx")) < 0.3 && math.abs(e.getAs[Double]("cy")) < 0.2)
    // dominant axis along y≈x/2 → angle ≈ atan(0.5) ≈ 26.57°
    assert(math.abs(e.getAs[Double]("angle_deg") - 26.57) < 3.0)
    assert(e.getAs[Double]("width") > e.getAs[Double]("height"))
  }

  test("filterIntensity label variants and stripColumnLabels") {
    val df = Seq((1, 1.0, 2.0, 3.0, 4.0))
      .toDF("id", "Intensity A1___1", "Intensity A1___2", "Intensity B1___1", "LFQ intensity A1")
    val a = Filters.filterIntensity(df, "A1", withMultiplicity = true)
    assert(a.columns.toSet == Set("id", "LFQ intensity A1", "Intensity A1___1", "Intensity A1___2"))
    val stripped = Filters.stripColumnLabels(df, "Intensity ")
    assert(stripped.columns.contains("A1___1"))
  }

  test("ref-exact filter_intensity family reproduces the reference's regex quirks") {
    val df = Seq((1, 1.0, 2.0, 3.0, 4.0, 5.0))
      .toDF("id", "Intensity A1___1", "LFQ intensity A1", "LFQ Intensity B1___1",
        "Ratio H/L X", "Intensity A1")
    // lowercase `LFQ intensity` never matches the capital-I template:
    // kept as metadata (the File S-1 notebook's no-op); capital-I LFQ
    // with __d matches and is appended after the metadata block
    val lfq = Filters.filterIntensityLfqExact(df)
    assert(lfq.columns.toSet == df.columns.toSet)
    assert(lfq.columns.last == "LFQ Intensity B1___1") // ref concat order
    // intensity template requires the __\d tail: plain `Intensity A1` drops
    val i = Filters.refExactPrefixFilter(df, "Intensity", "A1")
    assert(i.columns.contains("Intensity A1___1") && !i.columns.contains("Intensity A1"))
    // withMultiplicity DOUBLES the __\d requirement (filters.py:182) —
    // matches zero real columns
    val im = Filters.refExactPrefixFilter(df, "Intensity", "A1", withMultiplicity = true)
    assert(!im.columns.exists(_.startsWith("Intensity")))
    // ratio template has no __\d tail
    val r = Filters.refExactPrefixFilter(df, "Ratio", requireMultSuffix = false)
    assert(r.columns.contains("Ratio H/L X"))
  }

  test("hierarchicalTimecourse: rising/falling sites split into clusters with mean curves") {
    // S-1 finale contract (ref visualize.py:1872+): 4 rising + 4
    // falling sites over 3 timepoints, two observations each (the
    // replicate collapse averages them), k=2.
    val rows = for {
      s <- 0 until 8
      t <- 1 to 3
      rep <- 0 until 2
    } yield {
      val base = if (s < 4) t.toDouble else 4.0 - t // rising vs falling
      (s"site$s", t, base + s * 0.01 + rep * 0.001)
    }
    val long = rows.toDF("site", "timepoint", "value")
    val tc = Pipelines.hierarchicalTimecourse(spark, long, "site", "timepoint", "value", k = 2)
    val assign = tc.assignments.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val means = tc.means.collect()
      .map(r => (r.getInt(1), r.getInt(0)) -> (r.getDouble(2), r.getLong(3))).toMap
    tc.cleanup()
    // the two shapes separate
    assert((0 until 4).map(i => assign(s"site$i")).distinct.size == 1)
    assert((4 until 8).map(i => assign(s"site$i")).distinct.size == 1)
    assert(assign("site0") != assign("site4"))
    // k x T mean rows, each pooling 4 sites
    assert(means.size == 6 && means.values.forall(_._2 == 4L))
    // the rising cluster's mean z increases over time, the falling one decreases
    val rising = assign("site0"); val falling = assign("site4")
    assert(means((1, rising))._1 < means((3, rising))._1)
    assert(means((1, falling))._1 > means((3, falling))._1)
  }

  test("proteinIdList and hierarchicalMatch") {
    val df = Seq(("P1;P2 x", ""), ("P2_y", "")).toDF("Proteins", "pad")
    val ids = ScalarFuncs.proteinIdList(df, "Proteins")
      .as[String].collect().toSet
    assert(ids == Set("P1", "P2"))
    val conf = Map(Seq("a", "b") -> 1, Seq("a") -> 2)
    assert(ScalarFuncs.hierarchicalMatch(conf, Seq("a", "b", "c"), 0) == 1)
    assert(ScalarFuncs.hierarchicalMatch(conf, Seq("a", "z"), 0) == 2)
    assert(ScalarFuncs.hierarchicalMatch(conf, Seq("q"), 0) == 0)
  }

  test("indexList and buildCombinedLabel (ref utils.py:179,208)") {
    // [l.index(s) for s in ms if s in l]: ms order, absentees skipped
    assert(ScalarFuncs.indexList(Seq("a", "b", "c", "d"), Seq("c", "x", "a")) == Seq(2, 0))
    assert(ScalarFuncs.indexList(Seq("a", "b"), Seq("z")) == Seq.empty)
    val sl = Map(0 -> "P1;P2", 1 -> "STY")
    assert(ScalarFuncs.buildCombinedLabel(sl, Seq(0, 1)) == "P1 STY")
    assert(ScalarFuncs.buildCombinedLabel(sl, Seq(1, 0), sep = "/") == "STY/P1")
    assert(ScalarFuncs.buildCombinedLabel(sl, Seq(0, 1),
      labelFormat = Some("%s [%s] 100%%")) == "P1 [STY] 100%")
    // data-plane twins agree with the driver-side forms
    val df = Seq(("P1;P2", "STY")).toDF("p", "aa")
    val r = df.select(
      ScalarFuncs.combinedLabel(" ", col("p"), col("aa")).as("s"),
      ScalarFuncs.combinedLabelFmt("%s [%s]", col("p"), col("aa")).as("f"))
      .as[(String, String)].head()
    assert(r == ("P1 STY", "P1 [STY]"))
  }

  test("a warm re-run compiles no new code: phosphoLfq, then a DedupIndex.newDocs probe") {
    // Janino compiles a generated class only on a codegen-cache miss.
    // One round (the LFQ chain, then an index probe) holds more classes
    // than Spark's default cache keeps per LRU segment (100 entries in
    // 4 segments), so at that size the second round recompiles what the
    // first evicted; the Sessions cache size holds the whole round.
    // AQE numbers whole-stage codegen stages in the order it creates
    // them, which can differ between runs; the profile leaves the
    // number out of the class name, so a miss means eviction.
    val path = java.nio.file.Files.createTempDirectory("warmrerun").toString + "/idx"
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    DedupIndex.write(Seq((1L, base),
      (3L, "completely different content about spark query engines and shuffles everywhere"))
      .toDF("doc_id", "text"), "doc_id", "text", path)
    val batch = Seq((11L, base.replace("today", "tonight")),
      (15L, "fresh unseen material with many novel words inside it")).toDF("doc_id", "text")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def round(): (Long, Long) = {
      val c0 = compiles
      Pipelines.phosphoLfq(sites, design, control = "Control", comparison = "Treat").collect()
      val c1 = compiles
      DedupIndex.newDocs(spark, path, batch, "doc_id", "text", threshold = 0.5).collect()
      (c1 - c0, compiles - c1)
    }
    val idInName = graft.TestSpark.ClassNameIdKey
    assert(spark.conf.get(idInName) == graft.Sessions.productionConfs(4).toMap.apply(idInName))
    val first = round()
    val (lfq, probe) = round()
    assert(lfq == 0 && probe == 0, s"the second round compiled phosphoLfq $lfq and " +
      s"newDocs $probe new classes (first round: $first)")
  }
}
