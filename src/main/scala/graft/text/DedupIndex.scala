package graft.text

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

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
  * Probes read both tables with their known schema (the id typed as
  * the batch's id), so no probe infers a parquet schema; a batch's id
  * column must therefore have the type the index was written with.
  *
  * Probe scale contract (the asymmetry is the point — `batch` is the
  * small side, the corpus is unbounded):
  *  - the batch side is materialised ONCE, on the driver: one job
  *    computes the batch's signatures and band keys and collects them;
  *    the batch text is never re-shingled per reference;
  *  - the corpus never shuffles its membership rows: one
  *    aggregate-only histogram pass over `bands/`, restricted to the
  *    probed band hashes, is collected (at most one row per probed
  *    bucket), and the driver decides the bucket cap and the exact
  *    pre-distinct candidate count from it;
  *  - NORMAL regime (count ≤ [[DefaultMaxLocalCandidates]]): the probe
  *    is finished on the driver. One `bands/` scan returns the rows of
  *    the capped probed buckets (at most the candidate count), the
  *    driver forms the distinct (corpus_id, batch_id) pairs, one
  *    `sigs/` scan returns the candidates' signatures, and the driver
  *    computes each estimate with the SQL join's expression. The scans
  *    filter against sorted primitive key arrays (band hashes, and the
  *    `xxhash64` of candidate ids) — a superset test; exact matching
  *    is on the driver. Both scans come back as compressed blocks of
  *    encoded rows, decoded one row at a time, so beyond the batch side
  *    the driver holds, per candidate: its id in a map to the batch ids
  *    of its buckets, its `sigs/` row (k+1 longs, about 0.3 KB at k =
  *    32) while that scan is read, and its output row (`probePairs`;
  *    `newDocs` keeps only the duplicate batch ids). The result is a
  *    local relation; the histogram's partial counts are the probe's
  *    only exchange, and it runs no broadcast or schema job;
  *  - ABOVE the ceiling the same pairs come from a planned shuffle
  *    join of `bands/` and `sigs/` against the batch's capped triples,
  *    so no candidate row reaches the driver (results identical, the
  *    corpus pays one shuffle — the degraded mode, still never a
  *    rescan of the text). The ceiling therefore bounds what the
  *    driver holds beyond the batch side: at most that many candidate
  *    ids, `sigs/` rows and pairs;
  *  - skew: a batch band-hash that hits an oversized corpus bucket
  *    (boilerplate clusters — the LSH mega-bucket mode) is dropped by
  *    the `maxBucketRows` cap before any candidate is formed, decided
  *    on the driver from the collected histogram (the members of such
  *    a bucket are near-identical to one another).
  * Measured on a 200k-document batch against a 200k-document index
  * (local mode, 4 cores, 4 GiB heap, half the batch one-word edits of
  * index documents; 424,726 candidates, so the shuffle regime): the
  * largest heap used after a GC over the probe's build and run was
  * 1.25-1.66 GB (median 1.30, 5 JVMs). The normal regime's worst case is
  * at the ceiling with every candidate a distinct corpus id and pair:
  * 250k such candidates took 0.37-0.64 GB (4 JVMs).
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

  /** Candidate ceiling of the driver-side probe. The bucket cap alone
    * bounds candidates only to |batchTriples| × maxBucketRows — a
    * dup-heavy batch whose every band lands in a near-cap corpus bucket
    * can legitimately produce candidate sets far beyond "batch-sized",
    * and collecting those would OOM the driver, not degrade gracefully.
    * The probe therefore computes the exact pre-distinct candidate
    * count from the bucket histogram it collects (aggregate-only —
    * never the membership rows) and the batch's own band keys, and
    * above this ceiling plans shuffle joins instead (the SAME pairs).
    * A candidate costs the driver about 1-2 KB at worst (k = 32: its
    * `sigs/` row arrives in task-result blocks that are briefly held
    * more than once): 250k distinct candidates measured 0.37-0.64 GB
    * after GC, 1M 2.0 GB, 2M 3.4 GB; the shuffle joins took 0.69-0.78
    * GB at 2M. */
  val DefaultMaxLocalCandidates: Long = 250000L

  /** Write (or overwrite) the index for `docs`. The root is deleted
    * first, so nothing of an earlier build survives the rewrite.
    * Documents with no shingles (< shingleSize words) have null
    * signatures and are not indexed — they cannot be near-dup
    * candidates. */
  def write(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 32,
      bands: Int = 8): Unit = {
    val root = new Path(path)
    root.getFileSystem(docs.sparkSession.sessionState.newHadoopConf()).delete(root, true)
    writeMode(docs, idCol, textCol, path, numHashes, bands, "overwrite")
  }

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
    * [[Dedup.minHashCandidatePairsBounded]] self-join for those. In
    * the normal regime the pairs are computed when the probe is built
    * and returned as a local relation; above the candidate ceiling the
    * returned frame is the shuffle-join plan. Null ids match nothing.
    * The index is read with the batch's id type, so `batch`'s id
    * column must have the type the index was written with. */
  def probePairs(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketRows: Long = DefaultMaxBucketRows,
      maxLocalCandidates: Long = DefaultMaxLocalCandidates): DataFrame =
    probe(spark, path, batch, idCol, textCol, numHashes, bands, maxBucketRows,
      maxLocalCandidates) match {
      case Left(p) =>
        val rows = Array.newBuilder[Row]
        p.run((c, b, est) => rows += Row(c, b, est))
        spark.createDataset(rows.result().toSeq)(Encoders.row(p.schema)).toDF()
      case Right(plan) => plan
    }

  /** The ingest decision: batch documents with NO corpus near-dup at
    * `threshold` (the rows to keep). Null-signature batch docs (< 3
    * words) have no candidates and are kept. In the normal regime the
    * result is `batch` filtered by the duplicate ids decided on the
    * driver. As for [[probePairs]], `batch`'s id type must be the
    * index's. */
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
      maxLocalCandidates: Long = DefaultMaxLocalCandidates): DataFrame =
    // self-matches excluded: ids are globally unique in normal use
    // (nothing matches), and a replayed batch finds ITSELF in the
    // index — without this guard every replayed document would score
    // est=1.0 against its own prior append and be dropped (the replay
    // contract in the object scaladoc)
    probe(spark, path, batch, idCol, textCol, numHashes, bands, maxBucketRows,
      maxLocalCandidates) match {
      case Left(p) =>
        val dups = mutable.HashSet.empty[Any]
        p.run((c, b, est) => if (c != b && est >= threshold) dups += b)
        if (dups.isEmpty) batch
        else batch.filter(col(idCol).isNull || !col(idCol).isInCollection(dups))
      case Right(plan) =>
        val dups = plan
          .filter(col("corpus_id") =!= col("batch_id"))
          .filter(col("est_jaccard") >= threshold)
          .select(col("batch_id").as(idCol))
          .distinct()
        batch.join(dups, Seq(idCol), "left_anti")
    }

  /** `c` in `keys`, which this sorts in place. */
  private def inSorted(c: Column, keys: Array[Long]): Column = {
    java.util.Arrays.sort(keys)
    Bridge.column(SortedLongIn(Bridge.expression(c), keys))
  }

  /** Pairs decided on the driver: `run(emit)` calls `emit` once per
    * (corpus_id, batch_id, est_jaccard) row of `schema`. */
  private final case class LocalPairs(
      schema: StructType, run: ((Any, Any, Double) => Unit) => Unit)

  private def probe(
      spark: SparkSession, path: String, batch: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, maxBucketRows: Long,
      maxLocalCandidates: Long): Either[LocalPairs, DataFrame] = {
    // the batch side in one job: signatures and band keys together, to
    // the driver
    val batchSide = Dedup.minHashSignatures(batch, idCol, textCol, numHashes)
      .filter(col("mh_0").isNotNull)
      .withColumn("_bh", array(Dedup.bandHashes(numHashes, bands): _*))
    val batchRows = batchSide.collect()
    def bandKeys(r: Row) = r.getSeq[Long](numHashes + 1).iterator.zipWithIndex
    val idField = batchSide.schema(idCol)
    val mh = (0 until numHashes).map(i => StructField(s"mh_$i", LongType))
    val corpusBands = spark.read
      .schema(StructType(Seq(idField.copy(nullable = true),
        StructField("band_idx", IntegerType), StructField("band_hash", LongType))))
      .parquet(s"$path/bands")
    val corpusSigs = spark.read
      .schema(StructType(idField.copy(nullable = true) +: mh))
      .parquet(s"$path/sigs")

    // hot-bucket cap: one aggregate-only histogram over the index
    // (map-side partials — one row per bucket per task, never the
    // membership rows), restricted to the probed band hashes and
    // capped, so at most one row per probed bucket reaches the driver
    val okBuckets = Array.fill(bands)(mutable.LongMap.empty[Long])
    val probedHashes = batchRows.iterator.flatMap(r => bandKeys(r).map(_._1)).toArray.distinct
    if (probedHashes.nonEmpty)
      corpusBands
        .filter(inSorted(col("band_hash"), probedHashes))
        .groupBy(col("band_idx"), col("band_hash"))
        .agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") <= maxBucketRows)
        .collect()
        .foreach(r => okBuckets(r.getInt(0))(r.getLong(1)) = r.getLong(2))

    // the exact pre-distinct candidate count — Σ over capped probed
    // buckets of corpusRows × batchRows, i.e. Σ over batch triples in
    // them of corpusRows — picks the regime
    val candUpperBound = batchRows.foldLeft(0L) { (acc, r) =>
      bandKeys(r).foldLeft(acc) { case (a, (h, b)) => Math.addExact(a, okBuckets(b).getOrElse(h, 0L)) }
    }
    val pairSchema = StructType(Seq(idField.copy(name = "corpus_id", nullable = true),
      idField.copy(name = "batch_id"), StructField("est_jaccard", DoubleType)))
    if (candUpperBound <= maxLocalCandidates)
      Left(LocalPairs(pairSchema,
        localPairs(batchRows, okBuckets, corpusBands, corpusSigs, idCol, numHashes, bandKeys)))
    else
      Right(shufflePairs(spark, batchSide.schema, batchRows, okBuckets, corpusBands, corpusSigs,
        idCol, numHashes, bandKeys))
  }

  /** The normal regime: the capped probed buckets' `bands/` rows and
    * the candidates' `sigs/` rows are collected, and the driver joins
    * them with the batch side — the same multiset of rows the shuffle
    * joins emit (one per matching `sigs/` row and batch row). Both
    * scans are read as encoded rows, one at a time, without boxing. */
  private def localPairs(
      batchRows: Array[Row], okBuckets: Array[mutable.LongMap[Long]], corpusBands: DataFrame,
      corpusSigs: DataFrame, idCol: String, numHashes: Int,
      bandKeys: Row => Iterator[(Long, Int)])(emit: (Any, Any, Double) => Unit): Unit = {
    // batch ids per capped probed bucket (null ids join nothing)
    val batchIdsAt = Array.fill(okBuckets.length)(mutable.LongMap.empty[List[Any]])
    for (r <- batchRows if !r.isNullAt(0); (h, b) <- bandKeys(r) if okBuckets(b).contains(h))
      batchIdsAt(b)(h) = r.get(0) :: batchIdsAt(b).getOrElse(h, Nil)
    val okHashes = batchIdsAt.iterator.flatMap(_.keysIterator).toArray.distinct
    if (okHashes.isEmpty) return

    // candidates: each corpus id → the batch ids of the capped probed
    // buckets it is in (shared lists; one corpus id in several buckets
    // is distinct'd below), and the xxhash64 of each candidate corpus
    // id for the sigs/ scan
    val idType = corpusBands.schema(idCol).dataType
    val toId = CatalystTypeConverters.createToScalaConverter(idType)
    val cand = mutable.HashMap.empty[Any, List[Any]]
    val candHashes = mutable.ArrayBuilder.make[Long]
    Bridge.collectEncoded(corpusBands
      .filter(inSorted(col("band_hash"), okHashes))
      .select(col(idCol), col("band_idx"), col("band_hash"), xxhash64(col(idCol))))
      .foreach { r =>
        if (!r.isNullAt(0)) batchIdsAt(r.getInt(1)).get(r.getLong(2)).foreach { ids =>
          val c = toId(r.get(0, idType))
          cand.get(c) match {
            case Some(seen) => cand(c) = ids ::: seen
            case None =>
              cand(c) = ids
              candHashes += r.getLong(3)
          }
        }
      }
    if (cand.isEmpty) return

    val batchById = batchRows.iterator.filter(!_.isNullAt(0)).toSeq.groupBy(_.get(0))
    // the SQL join's estimate, bit for bit: agreeing slots (a null
    // never agrees) as a double over numHashes
    def est(a: InternalRow, b: Row): Double = {
      var agree = 0
      var i = 1
      while (i <= numHashes) {
        if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) agree += 1
        i += 1
      }
      agree.toDouble / numHashes
    }
    Bridge.collectEncoded(corpusSigs.filter(inSorted(xxhash64(col(idCol)), candHashes.result())))
      .foreach { s =>
        if (!s.isNullAt(0)) {
          val c = toId(s.get(0, idType))
          cand.get(c).foreach(_.distinct.foreach(b => batchById(b).foreach(r => emit(c, b, est(s, r)))))
        }
      }
  }

  /** Above the candidate ceiling: the candidate and signature joins as
    * one planned shuffle join over local relations of the batch side —
    * the candidate rows never reach the driver. */
  private def shufflePairs(
      spark: SparkSession, batchSchema: StructType, batchRows: Array[Row],
      okBuckets: Array[mutable.LongMap[Long]], corpusBands: DataFrame, corpusSigs: DataFrame,
      idCol: String, numHashes: Int, bandKeys: Row => Iterator[(Long, Int)]): DataFrame = {
    // local relations of encoded (UnsafeRow) copies: about half the
    // live heap of createDataFrame's boxed rows (147 vs 305 MB measured
    // for a 200k-document batch)
    def local(rows: Seq[Row], schema: StructType) =
      spark.createDataset(rows)(Encoders.row(schema)).toDF()
    val batchOk = local(
      batchRows.toSeq.flatMap(r => bandKeys(r).collect {
        case (h, b) if okBuckets(b).contains(h) => Row(r.get(0), b, h)
      }),
      StructType(Seq(batchSchema(idCol).copy(name = "batch_id"),
        StructField("band_idx", IntegerType, nullable = false),
        StructField("band_hash", LongType, nullable = false))))
    val cand = corpusBands
      .join(batchOk, Seq("band_idx", "band_hash"))
      .select(col(idCol).as("corpus_id"), col("batch_id"))
      .distinct()
    val aSigs = corpusSigs.toDF(corpusSigs.columns.map(c =>
      if (c == idCol) "corpus_id" else s"a_$c").toIndexedSeq: _*)
    val batchSigs = local(batchRows.toSeq, batchSchema).drop("_bh")
    val bSigs = batchSigs.toDF(batchSigs.columns.map(c =>
      if (c == idCol) "batch_id" else s"b_$c").toIndexedSeq: _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    aSigs
      .join(cand, Seq("corpus_id"))
      .join(bSigs, Seq("batch_id"))
      .select(col("corpus_id"), col("batch_id"),
        (agree.cast("double") / numHashes).as("est_jaccard"))
  }
}

/** `child` in a sorted primitive `long[]`, by binary search: one
  * codegen'd membership test whose plan string and task binary carry
  * the array, not a literal per key. Null in, null out. */
private[text] final case class SortedLongIn(child: Expression, keys: Array[Long])
    extends UnaryExpression with Predicate {
  override def nullSafeEval(v: Any): Any = java.util.Arrays.binarySearch(keys, v.asInstanceOf[Long]) >= 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ks = ctx.addReferenceObj("keys", keys, "long[]")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($ks, $c) >= 0")
  }
  override def toString: String = s"$child IN (${keys.length} sorted keys)"
  override protected def withNewChildInternal(c: Expression): SortedLongIn = copy(child = c)
}
