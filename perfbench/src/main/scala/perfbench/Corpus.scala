package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.TrainingData
import graft.text.{Dedup, DedupIndex}

/** Corpus ingest over a generated text corpus: curate the whole corpus,
  * write the near-dup index over the base split, then ingest each batch
  * by probing the index for near-dups (a read) and appending the new
  * documents (a write). One op is one ingest batch. `splits` are
  * half-open doc_id ranges: base, the ingest batches, then a held-out
  * probe set that only the correctness check reads. */
final class Corpus(dir: String, work: String, splits: Seq[(Long, Long)]) extends Workload {
  private val base = splits.head
  private val batches = splits.slice(1, splits.length - 1)
  private val holdout = splits.last
  private val index = s"$work/index"
  private val Threshold = 0.7

  val opsPerPass: Int = batches.length
  // After the set-up pass, one more brings pass times to the plateau.
  val warmupPasses = 1

  private def docs(spark: SparkSession): DataFrame = Tables.table(spark, dir, "corpus")

  private def range(df: DataFrame, r: (Long, Long)): DataFrame =
    df.filter(col("doc_id") >= r._1 && col("doc_id") < r._2)

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }

  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    rm(new java.io.File(index))
  }

  private def newIds(spark: SparkSession, idx: String, batch: DataFrame): Array[Long] =
    DedupIndex.newDocs(spark, idx, batch, "doc_id", "text", Threshold)
      .select("doc_id").collect().map(_.getLong(0)).sorted

  // doc_ids the last pass appended to its index, for the rebuild check
  private var lastAppended: Seq[Long] = Nil

  def pass(spark: SparkSession): PassOut = {
    val all = Trace.build("tables.open")(docs(spark))
    val cur = Trace.build("text.curate")(TrainingData.curateFull(all, "doc_id", "text"))
    val kept = Trace.action("out.curate_kept")(
      cur.kept.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).head())
    val reasons = Trace.action("out.curate_reasons")(cur.reasons.collect())
    Trace.action("text.index_write")(
      DedupIndex.write(range(all, base), "doc_id", "text", index))
    val results = batches.map { b =>
      val t0 = System.nanoTime()
      val ids = Trace.span("op.ingest_batch", "op") {
        val batch = range(all, b)
        val ids = Trace.action("text.index_probe")(newIds(spark, index, batch))
        Trace.action("text.index_append")(DedupIndex.append(
          batch.filter(col("doc_id").isin(ids.toSeq: _*)), "doc_id", "text", index))
        ids
      }
      (Workload.secs(t0), ids)
    }
    lastAppended = results.flatMap(_._2.toSeq)
    PassOut(results.map(_._1),
      Workload.digest(Seq(kept), reasons.toSeq,
        results.map(_._2.mkString(","))))
  }

  private final class Step(val name: String, val run: DataFrame => DataFrame)
  private object Step { def apply(name: String, run: DataFrame => DataFrame) = new Step(name, run) }

  // Self time of each text layer = T(prefix) - T(parent prefix).
  // `text.curate` is the whole curation, so its self time is the work
  // curation does beyond annotate, signatures and candidates.
  private val steps: Seq[Step] = Seq(
    Step("tables.open", identity),
    Step("text.annotate", d => TrainingData.annotate(d, "doc_id", "text")),
    Step("text.signatures", d => Dedup.minHashSignatures(d, "doc_id", "text")),
    Step("text.candidates",
      d => Dedup.minHashCandidatePairsBounded(d, "doc_id").pairs),
    Step("text.curate", _ => TrainingData.curateFull(
      docs(SparkSession.active), "doc_id", "text").kept))

  def prefixes(spark: SparkSession): Seq[Prefix] = steps.indices.map { k =>
    reset(spark)
    val t0 = System.nanoTime()
    val out = steps.take(k + 1).foldLeft(null: DataFrame) { (d, s) =>
      s.run(if (d == null) docs(spark) else d)
    }
    Trace.noop(out)
    Prefix(steps(k).name, if (k == 0) "" else steps(k - 1).name, Workload.secs(t0))
  }

  /** Candidate pairs, their confirm ratio at the curation threshold,
    * and the index's bytes per indexed document. */
  def layerCounts(spark: SparkSession): Map[String, Double] = {
    reset(spark)
    val all = docs(spark)
    val sigs = Dedup.minHashSignatures(TrainingData.annotate(all, "doc_id", "text"), "doc_id", "text")
      .persist()
    val pairs = Dedup.minHashCandidatePairsBounded(sigs, "doc_id").pairs.persist()
    val nPairs = pairs.count()
    val confirmed = Dedup.minHashJaccard(pairs, sigs, "doc_id")
      .filter(col("est_jaccard") >= Threshold).count()
    DedupIndex.write(range(all, base), "doc_id", "text", index)
    val indexed = spark.read.parquet(s"$index/sigs").count()
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L) else f.length
    val out = Map(
      "text.candidate_pairs" -> nPairs.toDouble,
      "text.pair_confirm_ratio" -> (if (nPairs == 0) 0.0 else confirmed.toDouble / nPairs),
      "text.index_bytes_per_doc" -> bytes(new java.io.File(index)).toDouble / math.max(indexed, 1L))
    reset(spark)
    out
  }

  /** Append-then-probe must equal rebuild-then-probe: the index the last
    * pass built by appending is probed with the held-out documents, and
    * so is an index rebuilt in one write over the same documents. */
  def checks(spark: SparkSession): Seq[Check] = {
    val all = docs(spark)
    val rebuilt = s"$work/index_rebuilt"
    val indexedIds = range(all, base).select("doc_id")
      .union(spark.createDataFrame(lastAppended.map(Tuple1(_))).toDF("doc_id"))
    DedupIndex.write(all.join(indexedIds, Seq("doc_id"), "left_semi"), "doc_id", "text", rebuilt)
    val probe = range(all, holdout)
    val appended = newIds(spark, index, probe)
    val fresh = newIds(spark, rebuilt, probe)
    rm(new java.io.File(rebuilt))
    Seq(Check("corpus.append_equals_rebuild", appended.sameElements(fresh),
      s"${probe.count()} held-out docs; ${appended.length} new via appended index, " +
        s"${fresh.length} via rebuilt index; ${lastAppended.length} docs appended"))
  }
}
