package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.ml.Ward
import graft.ops.{Caches, Design, Filters, Normalize, Reshape}
import graft.stats.{Moments, StatTests, Summaries, Volcano}

/** The reference's canonical end-to-end workflows (SURVEY §3) as
  * composable lazy stages. [[phosphoLfq]] runs as two plans. The
  * first is scan → narrow filters/projections → side-table expand (one
  * `Generate`) → unpivot (`Expand`) → log2, pruned to (id, sample,
  * value) and staged behind an RDD leaf (`Bridge.stage`): the site
  * table is parsed once per action, and nothing downstream carries the
  * wide subtree through analysis or AQE re-planning. The second reads
  * that leaf: per-sample median centering (the quantile engine, which
  * references its input three times — all three read the staged
  * blocks) → broadcast design join → min-valid windows → replicate
  * collapse → volcano aggregate. The min-valid windows pay the one
  * full-data exchange, `hashpartitioning(id)`; the collapse and
  * volcano aggregates are keyed by the id and reuse it.
  */
object Pipelines {

  /** Estimated-input-size floor (bytes) below which
    * [[hierarchicalTimecourse]] skips the `prof` persist: under it the
    * rescan the cache would avoid is cheaper than the cache's extra
    * stage barriers (the r16 driver measured the unconditional persist
    * 0.88× at sf0.1 where sf10 same-window A/Bs show 1.6×; sf0.1's
    * pruned lineitem estimate is ~MBs, sf10's ~hundreds of MBs — this
    * sits between them with an order of magnitude of margin each way). */
  val PersistInputBytesFloor: BigInt = BigInt(128L << 20)

  /** §3.1 Phospho-LFQ timecourse (File S-1 flagship), through the
    * volcano table. `sites` is a MaxQuant site table (io.MaxQuant
    * .readMaxQuant), `design` a (Label, Group, Timepoint, Replicate,
    * Technical) frame.
    */
  def phosphoLfq(
      sites: DataFrame,
      design: DataFrame,
      intensityPrefix: String = "Intensity ",
      minLocalizationProb: Double = 0.75,
      minValidPerGroup: Long = 2,
      control: String = "Control",
      comparison: String = "Treat"): DataFrame = {
    // filters (narrow, pushed to scan)
    val filtered = Filters.filterLocalizationProbability(
      Filters.removeContaminants(Filters.removeReverse(sites)),
      threshold = minLocalizationProb)
    // expand multiplicity columns to rows, then wide→long on intensities
    val expanded = Reshape.expandSideTable(filtered)
    val intensityCols = expanded.columns.filter(_.startsWith(intensityPrefix))
    val long0 = Reshape.unpivot(expanded,
      expanded.columns.filterNot(intensityCols.contains).toSeq,
      intensityCols.toSeq, nameCol = "sample", valueCol = "value")
    // log2 with ±inf→null, staged; downstream reads only these columns
    val staged = Bridge.stage(
      long0.select(col("id"), col("sample"),
        Reshape.infToNull(log2(col("value"))).as("value")),
      Caches.memoLevel(sites.sparkSession))
    // median-center per sample
    val long = Normalize.subtractColumnMedian(staged, "sample", "value")
    // design annotation (broadcast) + group-validity gate
    val annotated = Design.buildIndexFromDesign(
      long, design, removePrefixes = Seq(intensityPrefix), keepUnmatched = false)
    val valid = Filters.minimumValidValuesInAnyGroup(
      annotated, Seq("id"), Seq("Group"), "value", minValidPerGroup)
    // technical-replicate collapse (median over Technical, replicates
    // kept — they are the t-test observations), then the volcano table
    val collapsed = Summaries.collapseTechnicalReplicates(
      valid, Seq("id"), Seq("Group", "Replicate"), "value")
    Volcano.twoSample(
      collapsed, Seq("id"), "Group", "value", control, comparison,
      minValidN = minValidPerGroup.toInt, s0 = 0.5, minRatio = 0.5, minP = 0.05)
  }

  /** §3.2 SILAC ratio analysis (File S-2): proteinGroups ratios →
    * one-sample volcano vs 0. */
  def silacRatio(
      proteinGroups: DataFrame,
      design: DataFrame,
      minValid: Long = 2): DataFrame = {
    val filtered = Filters.removeOnlyIdentifiedBySite(
      Filters.removeContaminants(Filters.removeReverse(proteinGroups)))
    val kept = Filters.selectRatioColumns(filtered, keep = Seq("id"))
    val ratioCols = kept.columns.filter(_.startsWith("Ratio"))
    val long = Reshape.unpivot(kept, Seq("id"), ratioCols.toSeq,
        nameCol = "sample", valueCol = "value")
      .withColumn("value", Reshape.infToNull(log2(col("value"))))
    val annotated = Design.buildIndexFromDesign(long, design, keepUnmatched = false)
    val valid = Filters.minimumValidValuesInAnyGroup(
      annotated, Seq("id", "Group"), Seq("Group"), "value", minValid)
    Volcano.oneSample(valid, Seq("id", "Group"), "value",
      minValidN = minValid.toInt, s0 = 0.5, minRatio = 0.5, minP = 0.05)
  }

  /** S-1 finale: `hierarchical_timecourse` (ref visualize.py:1872-1959)
    * data contract. Collapse replicate observations to one value per
    * (entity, timepoint), z-score each entity's profile over its
    * timepoints (ref `z_score=0`), Ward-cluster the entities on those
    * z-profiles, and return (assignments, per-cluster mean timecourse)
    * — the table the reference's density plot consumes (`dfh` sliced by
    * cluster edges; `mv = dfhf.mean(axis=1)`).
    *
    * Scale contract: the CLUSTER axis must be driver-bounded — the
    * reference clusters the filtered significant-site set (O(10²–10³)),
    * the same bound as Ward.clusterSamples' s×s driver matrix. The
    * table-scale passes (profile collapse, z-score, cluster means) are
    * keyed aggregations over exact-decimal moments, so the whole chain
    * is oracle-checkable given the assignment map.
    *
    * The z frame is persisted for the two consuming actions (Ward's
    * distance collect, the means aggregation) and unpersisted by
    * `cleanup()` on the returned handle once the caller has
    * materialized `means`.
    */
  final case class Timecourse(assignments: DataFrame, means: DataFrame, cleanup: () => Unit)

  def hierarchicalTimecourse(
      spark: SparkSession,
      long: DataFrame,
      idCol: String,
      timeCol: String,
      valueCol: String,
      k: Int): Timecourse = {
    // persisted (r16): prof is the corpus-scale collapse and had TWO
    // consumers (the per-id moment aggregation and z's join) — each
    // re-ran the full groupBy over `long`. One row per (id, time);
    // freed by the same cleanup handle as z.
    //
    // SIZE-GATED (r17, verdict-16 item 4): at gate SF the rescan the
    // persist avoids costs less than the extra stage barriers the
    // cache adds — the driver measured the r16 unconditional persist
    // 0.88× where sf10+ same-window A/Bs show 1.6×. Gate on the
    // INPUT's estimated plan size (free, deterministic per fixture):
    // below [[PersistInputBytesFloor]] the two consumers just rescan.
    // Storage level via Caches.memoLevel (ADVICE r16: respect the
    // low-heap DISK_ONLY policy instead of hardcoding MEMORY_AND_DISK).
    val inputBytes = long.queryExecution.optimizedPlan.stats.sizeInBytes
    val profPersisted = inputBytes >= PersistInputBytesFloor
    val prof0 = long.groupBy(col(idCol), col(timeCol))
      .agg(Moments.meanOf(Moments.sumAt(col(valueCol), 6), count(col(valueCol))).as("_v"))
    val prof = if (profPersisted) prof0.persist(Caches.memoLevel(long.sparkSession)) else prof0
    val m = prof.groupBy(col(idCol))
      .agg(
        Moments.sumAt(col("_v"), 6).as("_s1"),
        Moments.sumWide(col("_v") * col("_v"), 10).as("_s2"),
        count(col("_v")).as("_n"))
      .select(col(idCol),
        Moments.meanOf(col("_s1"), col("_n")).as("_mu"),
        sqrt(Moments.varOf(col("_s1"), col("_s2"), col("_n"))).as("_sd"))
    val z = prof.join(broadcast(m), Seq(idCol))
      .select(col(idCol), col(timeCol),
        Moments.div(col("_v") - col("_mu"), col("_sd")).as("z"))
      .persist(Caches.memoLevel(long.sparkSession))
    val assign = Ward.clusterSamples(spark, z, timeCol, idCol, "z", k)
    val means = z.join(broadcast(assign), Seq(idCol))
      .groupBy(col("cluster"), col(timeCol))
      .agg(
        Moments.meanOf(Moments.sumAt(col("z"), 6), count(col("z"))).as("mean_z"),
        count(col("z")).cast("bigint").as("n_sites"))
    Timecourse(assign, means, () => { prof.unpersist(); z.unpersist(); () })
  }
}
