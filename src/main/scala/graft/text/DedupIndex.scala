package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Incremental near-dup deduplication: a PERSISTED MinHash-LSH
  * signature index over the corpus, probed by each new ingest batch —
  * the daily-crawl pattern, where re-running [[Dedup]]'s batch
  * self-join over corpus ∪ batch would re-shingle and re-shuffle the
  * full 100 TB corpus for every arriving shard.
  *
  * Index layout under `path` (plain parquet — readable by any engine):
  *  - `bands/`  (doc_id, band_idx, band_hash): the LSH membership
  *    triples, ~20 B × bands per document;
  *  - `sigs/`   (doc_id, mh_0..mh_{k-1}): the signatures, for the
  *    jaccard estimate on candidates.
  * Both are pure row-local functions of each document (signatures are
  * deterministic — INVARIANTS.md §1), so [[append]] is just additional
  * parquet files: append-then-probe ≡ rebuild-then-probe exactly
  * (DedupIndexSpec asserts it), with no compaction or merge step.
  *
  * Probe scale contract (the asymmetry is the point — `batch` is the
  * small side, the corpus is unbounded):
  *  - the batch side is materialised ONCE, on the driver: one job
  *    computes the batch's signatures and band keys and collects them,
  *    and every batch-side frame of the probe is a local relation of
  *    encoded rows built from that collect; the batch text is never
  *    re-shingled per reference. Any plan that broadcasts the batch
  *    signatures holds them on the driver; the collect adds a boxed
  *    copy while the probe is built. Measured on a 200k-document
  *    batch against a 200k-document index (local mode, 4 cores, 4 GiB
  *    heap): the built probe holds 147 MB of live heap (~0.75 KB per
  *    batch document), and the largest live heap after a GC over build
  *    and run was 1.51-1.72 GB (median 1.57, 5 runs), against
  *    1.17-1.51 GB (median 1.26) when the batch side is computed on
  *    executors (the test-side reference
  *    `ReferenceFormulations.dedupIndexProbePairs`);
  *  - the corpus never shuffles in the NORMAL regime: one
  *    aggregate-only histogram pass over `bands/`, restricted to the
  *    probed buckets, is collected (at most one row per batch triple);
  *    the candidate join broadcasts the batch's capped triples against
  *    one scan of `bands/`, and the signature joins broadcast the
  *    candidates against one scan of `sigs/` (same shape as
  *    [[Dedup.contaminationScores]]'s broadcast probe). Worst case the
  *    bucket cap alone permits is |batchTriples| × maxBucketRows
  *    candidates — NOT batch-sized — so the driver computes the exact
  *    candidate-count bound from the two collects and falls back to
  *    shuffle joins above [[DefaultMaxBroadcastCandidates]] (identical
  *    pairs, degraded cost, the candidates never broadcast);
  *  - skew: a batch band-hash that hits an oversized corpus bucket
  *    (boilerplate clusters — the LSH mega-bucket mode) is dropped by
  *    the `maxBucketRows` cap BEFORE the join fans out, decided on the
  *    driver from the collected histogram (the members of such a
  *    bucket are near-identical to one another).
  *
  * Replay: a caller that appends a batch and then records that it did
  * (an epoch marker, a committed offset) can crash between the two and
  * probe the same batch again against an index that already holds it.
  * [[newDocs]] ignores a batch document's match with its own id, so the
  * replay keeps the same documents as the first run. Appending them
  * again leaves duplicate index rows; probes tolerate them (candidates
  * are distinct'd, decisions are set-based) and only scan more.
  */
object DedupIndex {

  /** Corpus-side LSH bucket cap (rows per (band_idx, band_hash) bucket
    * a probe will join against). Named so oracle SQL can interpolate
    * the SAME constant the library default uses — a silent default
    * change can then never diverge the two sides. */
  val DefaultMaxBucketRows: Long = 100000L

  /** Candidate-pair ceiling for the BROADCAST probe plan. The bucket
    * cap alone bounds candidates only to |batchTriples| × maxBucketRows
    * — a dup-heavy batch whose every band lands in a near-cap corpus
    * bucket can legitimately produce candidate sets far beyond
    * "batch-sized", and broadcasting those would OOM the driver, not
    * degrade gracefully. probePairs therefore computes the exact
    * pre-distinct candidate count on the driver, from the bucket
    * histogram it collects (aggregate-only — never the membership
    * rows) and the batch's own band keys, and above this ceiling
    * drops the broadcast hints: the SAME pairs via shuffle joins
    * (results identical; the corpus pays one shuffle — the documented
    * degraded mode, still never a rescan of the text).
    * 2M pairs ≈ tens of MB broadcast at typical id widths. */
  val DefaultMaxBroadcastCandidates: Long = 2000000L

  /** Write (or overwrite) the index for `docs`. Documents with no
    * shingles (< shingleSize words) have null signatures and are not
    * indexed — they cannot be near-dup candidates. */
  def write(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 32,
      bands: Int = 8): Unit =
    writeMode(docs, idCol, textCol, path, numHashes, bands, "overwrite")

  /** Incrementally add a new shard to an existing index (row-local
    * computation, parquet file append — no read-modify-write of the
    * existing index). Caller contract: ids must be new; appending an
    * id twice yields self-candidate pairs on later probes. */
  def append(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 32,
      bands: Int = 8): Unit =
    writeMode(docs, idCol, textCol, path, numHashes, bands, "append")

  private def writeMode(
      docs: DataFrame, idCol: String, textCol: String, path: String,
      numHashes: Int, bands: Int, mode: String): Unit = {
    val sigs = Dedup.minHashSignatures(docs, idCol, textCol, numHashes)
      .filter(col("mh_0").isNotNull)
      // one signature computation feeds both tables (the two writes
      // are separate jobs; without the pin the shingle+minhash pass —
      // the expensive part — would run twice)
      .persist(graft.ops.Caches.memoLevel(docs.sparkSession))
    try {
      sigs.write.mode(mode).parquet(s"$path/sigs")
      Dedup.bandedTriples(sigs, idCol, numHashes, bands)
        .write.mode(mode).parquet(s"$path/bands")
    } finally { sigs.unpersist(); () }
  }

  /** Cross near-dup candidates (corpus_id, batch_id, est_jaccard) of a
    * new batch against the indexed corpus. `est_jaccard` is the
    * fraction of agreeing minhash slots ([[Dedup.minHashJaccard]]);
    * filter it against the caller's threshold. Within-batch pairs are
    * NOT included — run the batch through the standard
    * [[Dedup.minHashCandidatePairsBounded]] self-join for those. The
    * batch side and the bucket histogram are collected when the probe
    * is built (two jobs); the candidate and signature scans run when
    * the returned frame is acted on. */
  def probePairs(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketRows: Long = DefaultMaxBucketRows,
      maxBroadcastCandidates: Long = DefaultMaxBroadcastCandidates): DataFrame = {
    // the batch side in one job: signatures and band keys together, to
    // the driver (every batch-side frame below is broadcast anyway), so
    // the plans below read local relations instead of recomputing it
    val batchSide = Dedup.minHashSignatures(batch, idCol, textCol, numHashes)
      .filter(col("mh_0").isNotNull)
      .withColumn("_bh", array(Dedup.bandHashes(numHashes, bands): _*))
    val batchRows = batchSide.collect()
    // local relations of encoded (UnsafeRow) copies: about half the
    // live heap of createDataFrame's boxed rows (147 vs 305 MB measured
    // for a 200k-document batch)
    def local(rows: Seq[Row], schema: StructType) =
      spark.createDataset(rows)(Encoders.row(schema)).toDF()
    val batchLocal = local(batchRows.toSeq, batchSide.schema)
    def bandKeys(r: Row) = r.getSeq[Long](numHashes + 1).iterator.zipWithIndex
    val corpusBands = spark.read.parquet(s"$path/bands")

    // hot-bucket cap: one aggregate-only histogram over the index
    // (map-side partials — one row per bucket per task, never the
    // membership rows), restricted to the probed buckets and capped,
    // so at most one row per batch triple reaches the driver
    val okBuckets = Array.fill(bands)(mutable.LongMap.empty[Long])
    corpusBands
      .join(broadcast(batchLocal.select(posexplode(col("_bh")).as(Seq("band_idx", "band_hash")))),
        Seq("band_idx", "band_hash"), "left_semi")
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") <= maxBucketRows)
      .collect()
      .foreach(r => okBuckets(r.getInt(0))(r.getLong(1)) = r.getLong(2))

    // broadcast-safety gate: the bucket cap bounds candidates only to
    // |batchTriples| × maxBucketRows, so pick the plan from the EXACT
    // pre-distinct candidate count — Σ over capped probed buckets of
    // corpusRows × batchRows, i.e. Σ over batch triples in them of
    // corpusRows
    val candUpperBound = batchRows.foldLeft(0L) { (acc, r) =>
      bandKeys(r).foldLeft(acc) { case (a, (h, b)) => Math.addExact(a, okBuckets(b).getOrElse(h, 0L)) }
    }
    // above the ceiling the SAME joins run unhinted (shuffle): results
    // identical, the corpus pays a bands/+sigs/ shuffle instead of an
    // impossible broadcast
    val bcast: DataFrame => DataFrame =
      if (candUpperBound <= maxBroadcastCandidates) broadcast else identity
    val batchOk = local(
      batchRows.toSeq.flatMap(r => bandKeys(r).collect {
        case (h, b) if okBuckets(b).contains(h) => Row(r.get(0), b, h)
      }),
      StructType(Seq(batchSide.schema(idCol).copy(name = "batch_id"),
        StructField("band_idx", IntegerType, nullable = false),
        StructField("band_hash", LongType, nullable = false))))

    // candidate join: ONE scan of bands/, batch side broadcast — the
    // corpus membership rows never shuffle (broadcast regime)
    val cand = corpusBands
      .join(bcast(batchOk), Seq("band_idx", "band_hash"))
      .select(col(idCol).as("corpus_id"), col("batch_id"))
      .distinct()

    // jaccard estimate: corpus sigs scanned once, candidates broadcast
    val sigsRaw = spark.read.parquet(s"$path/sigs")
    val corpusSigs = sigsRaw.toDF(sigsRaw.columns.map(c =>
      if (c == idCol) "corpus_id" else s"a_$c").toIndexedSeq: _*)
    val batchSigs = batchLocal.drop("_bh")
    val bSigs = batchSigs.toDF(batchSigs.columns.map(c =>
      if (c == idCol) "batch_id" else s"b_$c").toIndexedSeq: _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    corpusSigs
      .join(bcast(cand), Seq("corpus_id"))
      .join(broadcast(bSigs), Seq("batch_id"))
      .select(col("corpus_id"), col("batch_id"),
        (agree.cast("double") / numHashes).as("est_jaccard"))
  }

  /** The ingest decision: batch documents with NO corpus near-dup at
    * `threshold` (the rows to keep). Null-signature batch docs (< 3
    * words) have no candidates and are kept. */
  def newDocs(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketRows: Long = DefaultMaxBucketRows,
      maxBroadcastCandidates: Long = DefaultMaxBroadcastCandidates): DataFrame = {
    val dups = probePairs(
      spark, path, batch, idCol, textCol, numHashes, bands, maxBucketRows,
      maxBroadcastCandidates)
      // self-matches excluded: ids are globally unique in normal use
      // (nothing matches), and a replayed batch finds ITSELF in the
      // index — without this guard every replayed document would
      // score est=1.0 against its own prior append and be dropped
      // (the replay contract in the object scaladoc)
      .filter(col("corpus_id") =!= col("batch_id"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("batch_id").as(idCol))
      .distinct()
    batch.join(broadcast(dups), Seq(idCol), "left_anti")
  }
}
