package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.MaxQuant
import graft.ml.Pca
import graft.ops.{Design, Filters, Impute, Normalize, Reshape}
import graft.pipeline.Pipelines
import graft.stats.{QValues, Summaries, Volcano}

/** The File S-1 phospho-LFQ workflow over a generated MaxQuant site
  * table: one op is one [[Pipelines.phosphoLfq]] call, from the TSV
  * read to the collected volcano table. Traced runs also time the
  * chain step by step (a copy of the [[Pipelines.phosphoLfq]] body,
  * checked to reproduce its output) and the steps past the volcano
  * table (q-values, imputation, PCA, the Ward timecourse) over the
  * significant sites. */
final class Lfq(dir: String, outDir: String) extends Workload {
  private val sitesPath = s"$dir/sites.tsv"
  private val designPath = s"$dir/design.tsv"
  private val IntensityPrefix = "Intensity "

  /** Frames one run of the chain builds. */
  private final class Ctx(val spark: SparkSession) {
    var sites, design, filtered, long0, normalized, annotated, valid: DataFrame = _
    var collapsed, volcano: DataFrame = _
  }

  /** One step of the [[Pipelines.phosphoLfq]] body: the library calls
    * it makes on top of the previous step, returning the frame it
    * produces. */
  private final class Step(val name: String, val run: Ctx => DataFrame)
  private object Step { def apply(name: String, run: Ctx => DataFrame) = new Step(name, run) }

  private val steps: Seq[Step] = Seq(
    Step("io.read_maxquant", c => {
      c.design = readDesign(c.spark)
      c.sites = MaxQuant.readMaxQuant(c.spark, sitesPath)
      c.sites
    }),
    Step("ops.filters", c => {
      c.filtered = Filters.filterLocalizationProbability(
        Filters.removeContaminants(Filters.removeReverse(c.sites)), threshold = 0.75)
      c.filtered
    }),
    Step("ops.reshape", c => {
      val expanded = Reshape.expandSideTable(c.filtered)
      val intensity = expanded.columns.filter(_.startsWith(IntensityPrefix))
      c.long0 = Reshape.unpivot(expanded, expanded.columns.filterNot(intensity.contains).toSeq,
        intensity.toSeq, nameCol = "sample", valueCol = "value")
      c.long0
    }),
    Step("ops.normalize", c => {
      c.normalized = Normalize.subtractColumnMedian(
        c.long0.withColumn("value", Reshape.infToNull(log2(col("value")))), "sample", "value")
      c.normalized
    }),
    Step("ops.design", c => {
      c.annotated = Design.buildIndexFromDesign(
        c.normalized, c.design, removePrefixes = Seq(IntensityPrefix), keepUnmatched = false)
      c.annotated
    }),
    Step("ops.min_valid", c => {
      c.valid = Filters.minimumValidValuesInAnyGroup(
        c.annotated, Seq("id"), Seq("Group"), "value", 2L)
      c.valid
    }),
    Step("stats.collapse", c => {
      c.collapsed = Summaries.collapseTechnicalReplicates(
        c.valid, Seq("id"), Seq("Group", "Replicate"), "value")
      c.collapsed
    }),
    Step("stats.volcano", c => {
      c.volcano = Volcano.twoSample(
        c.collapsed, Seq("id"), "Group", "value", "Control", "Treat",
        minValidN = 2, s0 = 0.5, minRatio = 0.5, minP = 0.05)
      c.volcano
    }))

  private def readDesign(spark: SparkSession): DataFrame =
    spark.read.option("sep", "\t").option("header", "true")
      .schema("Label STRING, Group STRING, Timepoint INT, Replicate INT, Technical STRING")
      .csv(designPath)

  val opsPerPass = 1
  // Pass times keep falling for a few passes after JVM start (JIT); the
  // set-up pass plus these bring the window near the plateau.
  val warmupPasses = 2

  def reset(spark: SparkSession): Unit = spark.catalog.clearCache()

  private var lastVolcano: Array[Row] = Array.empty

  def pass(spark: SparkSession): PassOut = {
    val t0 = System.nanoTime()
    val volcano = Trace.span("op.workflow", "op") {
      val sites = Trace.build("io.read_maxquant")(MaxQuant.readMaxQuant(spark, sitesPath))
      val out = Trace.build("pipelines.phospho_lfq")(Pipelines.phosphoLfq(sites, readDesign(spark)))
      Trace.action("out.volcano")(out.collect())
    }
    lastVolcano = volcano
    PassOut(Seq(Workload.secs(t0)), Workload.digest(volcano))
  }

  /** Runs the step-by-step chain; `upTo` is the index of its last step. */
  private def chain(spark: SparkSession, upTo: Int = steps.length - 1): (Ctx, DataFrame) = {
    val c = new Ctx(spark)
    (c, steps.take(upTo + 1).map(_.run(c)).last)
  }

  def prefixes(spark: SparkSession): Seq[Prefix] = steps.indices.map { k =>
    reset(spark)
    val t0 = System.nanoTime()
    Trace.noop(chain(spark, k)._2)
    Prefix(steps(k).name, if (k == 0) "" else steps(k - 1).name, Workload.secs(t0))
  } ++ downstream(spark)

  /** Significant sites of the last volcano table, in long form (id,
    * sample, value, Timepoint), and the volcano's (id, p) column, both
    * as local frames so that the steps timed on them start from
    * materialised inputs. */
  private def slice(spark: SparkSession): (DataFrame, DataFrame) = {
    def local(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val sig = lastVolcano.filter(_.getAs[Any]("significant") == true).map(_.getAs[String]("id"))
    val (c, _) = chain(spark, steps.indexWhere(_.name == "ops.min_valid"))
    val long = c.valid.filter(col("id").isin(sig.toIndexedSeq: _*))
      .select(col("id"), col("sample"), col("value"), col("Timepoint"))
    (local(long.collect().toSeq, long.schema),
      local(lastVolcano.toSeq, lastVolcano.head.schema).select("id", "p"))
  }

  private def qvalues(vol: DataFrame): DataFrame =
    QValues.qvalues(vol, "p", pi0 = QValues.storeyPi0(vol, "p"))

  private def imputed(long: DataFrame): DataFrame = Impute.gaussian(long)

  private val WardClusters = 4

  /** Prefix times of the steps past the volcano table. Each step is a
    * prefix of its own over the local slice, so its self time is its
    * prefix minus the slice's (imputation for PCA). */
  private def downstream(spark: SparkSession): Seq[Prefix] = {
    val (long, vol) = slice(spark)
    def timed(name: String, parent: String)(body: => Unit): Prefix = {
      reset(spark)
      val t0 = System.nanoTime()
      body
      Prefix(name, parent, Workload.secs(t0))
    }
    Seq(
      timed("lfq.slice", "") { Trace.noop(long); Trace.noop(vol) },
      timed("stats.qvalues", "lfq.slice")(Trace.noop(qvalues(vol))),
      timed("ops.impute", "lfq.slice")(Trace.noop(imputed(long))),
      timed("ml.pca", "ops.impute") {
        val imp = imputed(long)
        val model = Pca.fit(imp, "id", "sample", "value")
        Trace.noop(Pca.sampleScores(spark, imp, model, "id", "sample", "value"))
      },
      timed("ml.ward", "lfq.slice") {
        val tc = Pipelines.hierarchicalTimecourse(spark, long, "id", "Timepoint", "value",
          WardClusters)
        Trace.noop(tc.means)
        tc.cleanup()
      })
  }

  def layerCounts(spark: SparkSession): Map[String, Double] = Map.empty

  /** The step-by-step chain must reproduce the [[Pipelines.phosphoLfq]]
    * output of the last pass exactly; that output goes to `outDir` for
    * the DuckDB replay. */
  def checks(spark: SparkSession): Seq[Check] = {
    reset(spark)
    val same = Workload.digest(chain(spark)._2.collect()) == Workload.digest(lastVolcano)
    val f = new java.io.PrintWriter(s"$outDir/lfq_volcano.tsv")
    try {
      f.println("id\tn_a\tn_b\tratio")
      lastVolcano.foreach { r =>
        f.println(Seq(r.getAs[String]("id"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("ratio")).mkString("\t"))
      }
    } finally f.close()
    Seq(Check("lfq.chain_equals_pipelines", same,
      s"${lastVolcano.length} volcano rows; step-by-step chain vs Pipelines.phosphoLfq"))
  }
}
