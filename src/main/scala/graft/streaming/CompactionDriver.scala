package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.pipeline.TrainingData

/** The production wiring of [[CompactionScheduler]] onto a
  * [[DocStream.curateStream]] sink — the opt-in compact-when-
  * `shouldCompact` hook for the ingest loop (round-12 verdict item 6;
  * the measured cycle is BENCH_NOTES "Round-12: adaptive compaction
  * trigger measured").
  *
  * Usage: the ingest loop (per arrival wave / micro-batch drain /
  * AvailableNow cycle) calls [[maybeCompact]]; the driver probes the
  * sink, asks the scheduler whether the adaptive period has elapsed
  * for the CURRENT corpus size, and if so runs the batch near-dup
  * compaction (`TrainingData.curateFull`) over everything streamed in,
  * recording the measured wall back into the scheduler — the W/P
  * feedback loop. The stream keeps ingesting while a compaction runs
  * (the batch job reads committed sink files only), which is exactly
  * the streaming-ingest + batch-dedup split's contract: the compacted
  * view trails the sink by at most one period.
  *
  * One compaction at a time per driver: `maybeCompact` is
  * synchronized, so a listener thread and an ingest loop sharing a
  * driver can't double-fire. The sink probe tolerates a data-file-less
  * sink (a fully-gated first micro-batch writes none).
  *
  * `nanoTime` is injectable so cadence decisions are deterministic
  * under test (IoStreamingSpec drives the 3-cycle restart test through
  * this driver with a fake clock).
  */
final class CompactionDriver(
    spark: SparkSession,
    sinkDir: String,
    idCol: String,
    textCol: String,
    cfg: TrainingData.CurationConfig,
    val scheduler: CompactionScheduler = new CompactionScheduler(),
    nanoTime: () => Long = () => System.nanoTime()) {

  /** (corpusRows, wallSec, nextPeriodSec) per completed compaction. */
  @volatile private var done = Vector.empty[(Long, Double, Double)]
  @volatile private var lastKeptCount = -1L
  private var lastCompactNanos = nanoTime()
  private var probeNanos = 0L

  def compactions: Seq[(Long, Double, Double)] = done

  /** Kept-row count of the most recent compaction (-1 before any). */
  def lastKept: Long = lastKeptCount

  /** Wall spent probing the sink row count (bench bookkeeping — probe
    * cost is the driver's, not the stream's). */
  def probeSec: Double = probeNanos / 1e9

  /** The streamed-in table, None while the sink has no data files yet
    * (schema inference on an empty dir throws). Probed via the Hadoop
    * FileSystem resolved from the session conf — NOT java.io.File,
    * which silently returns null for every non-local sink (hdfs://,
    * s3a://, file: URIs) and would make maybeCompact() never fire on
    * exactly the deployments this driver is the production wiring
    * for. */
  def sinkDocs(): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.exists(path) &&
      fs.listStatus(path).exists(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (hasData) Some(spark.read.parquet(sinkDir).select(col(idCol), col(textCol)))
    else None
  }

  /** Compact now iff the scheduler's adaptive period has elapsed for
    * the current sink size. Returns the compacted view when one ran. */
  def maybeCompact(): Option[TrainingData.Curated] = synchronized {
    val elapsed = (nanoTime() - lastCompactNanos) / 1e9
    val t0 = nanoTime()
    val probed = sinkDocs().map(d => (d, d.count()))
    probeNanos += nanoTime() - t0
    probed match {
      case Some((docs, rows)) if rows > 0L && scheduler.shouldCompact(elapsed, rows) =>
        Some(runCompaction(docs, rows))
      case _ => None
    }
  }

  /** Unconditional compaction (final drain, operator request). */
  def compactNow(): Option[TrainingData.Curated] = synchronized {
    sinkDocs().map { docs => runCompaction(docs, docs.count()) }
  }

  private def runCompaction(docs: DataFrame, rows: Long): TrainingData.Curated = {
    val t = nanoTime()
    val curated = TrainingData.curateFull(docs, idCol, textCol, cfg)
    lastKeptCount = curated.kept.count() // materialize: the wall IS the evidence
    val wall = (nanoTime() - t) / 1e9
    scheduler.record(rows, wall)
    done = done :+ ((rows, wall, scheduler.nextPeriodSec(rows)))
    lastCompactNanos = nanoTime()
    curated
  }
}
