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
  * one table, `sigs/` (doc_id, mh_0..mh_{k-1}, bh_0..bh_{b-1}): each
  * indexed document's signature and, beside it, its LSH band keys
  * (bh_i is band i's [[Dedup.bandHashes]] key of the mh_* columns).
  * Each row is a pure row-local function of its document (signatures
  * are deterministic — INVARIANTS.md §1), so [[write]] and [[append]]
  * are one Spark job each that computes the minhash kernel once per
  * document, and an append is just additional parquet files:
  * append-then-probe ≡ rebuild-then-probe exactly (DedupIndexSpec
  * asserts it), with no compaction or merge step. Probes read `sigs/`
  * with its known schema (the id typed as the batch's id), so no probe
  * infers a parquet schema; a batch's id column must therefore have
  * the type the index was written with. An index in the earlier
  * two-table layout (band membership triples in a `bands/` table, no
  * band keys in `sigs/`) is refused by the probes and by [[append]]
  * ([[earlierLayout]]); [[write]] rebuilds it.
  *
  * Probe scale contract (the asymmetry is the point — `batch` is the
  * small side, the corpus is unbounded):
  *  - the batch side is materialised ONCE, on the driver: one job
  *    computes the batch's signatures and band keys and collects them;
  *    the batch text is never re-shingled per reference;
  *  - the corpus never shuffles its rows: one aggregate-only histogram
  *    pass over the bh_* columns, restricted to the probed band
  *    hashes, is collected (at most one row per probed bucket), and the
  *    driver decides the bucket cap and the exact pre-distinct
  *    candidate count from it;
  *  - NORMAL regime (count ≤ [[DefaultMaxLocalCandidates]]): the probe
  *    is finished on the driver. One `sigs/` scan returns the index
  *    rows in a capped probed bucket of their band (a test of each
  *    bh_b against band b's sorted key array), and each returned row
  *    carries both its band keys and its signature, so the driver forms
  *    that row's pairs and computes their estimates with the SQL
  *    join's expression from the row alone. The scan comes back as
  *    compressed blocks of encoded rows, decoded one row at a time, so
  *    beyond the batch side the driver holds, per candidate: its
  *    `sigs/` row (k+b+1 longs, about 0.33 KB at k = 32, b = 8) while
  *    the scan is read, and its output row (`probePairs`; `newDocs`
  *    keeps only the duplicate batch ids). The result is a local
  *    relation; the histogram's partial counts are the probe's only
  *    exchange, and it runs no broadcast or schema job — 3 jobs on a
  *    local batch (histogram map stage and result, the candidate
  *    scan), 4 on one that must be computed;
  *  - ABOVE the ceiling the same pairs come from a planned shuffle
  *    join of the exploded bh_* keys and the mh_* columns against the
  *    batch's capped triples, so no candidate row reaches the driver
  *    (results identical, the corpus pays one shuffle — the degraded
  *    mode, still never a rescan of the text). The ceiling therefore
  *    bounds what the driver holds beyond the batch side: at most that
  *    many candidate `sigs/` rows and pairs;
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
  * 250k such candidates took 0.80-0.86 GB (4 JVMs; the earlier
  * two-table probe 0.78-0.80 GB in the same window).
  *
  * Replay: a caller that appends a batch and then records that it did
  * (an epoch marker, a committed offset) can crash between the two and
  * probe the same batch again against an index that already holds it.
  * [[newDocs]] ignores a batch document's match with its own id, so the
  * replay keeps the same documents as the first run. Appending them
  * again leaves duplicate index rows; probes tolerate them (each row
  * emits its own pairs, decisions are set-based) and only scan more.
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
    * never the index rows) and the batch's own band keys, and above
    * this ceiling plans shuffle joins instead (the SAME pairs).
    * A candidate costs the driver about 3 KB at worst (k = 32, b = 8:
    * its 41-long `sigs/` row arrives in task-result blocks that are
    * briefly held more than once): 250k distinct candidates measured
    * 0.80-0.86 GB after GC, 500k 1.47-1.67 GB; the shuffle joins took
    * 0.69-0.78 GB at 2M. */
  val DefaultMaxLocalCandidates: Long = 250000L

  /** Write (or overwrite) the index for `docs`, in one Spark job. The
    * root is deleted first, so nothing of an earlier build survives
    * the rewrite. Documents with no shingles (< 3 words) have null
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
    indexRows(docs, idCol, textCol, numHashes, bands).write.parquet(s"$path/sigs")
  }

  /** Incrementally add a new shard to an existing index, in one Spark
    * job (row-local computation, parquet file append — no
    * read-modify-write of the existing index). Caller contract: ids
    * must be new; appending an id twice yields self-candidate pairs on
    * later probes. */
  def append(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 32,
      bands: Int = 8): Unit = {
    refuseEarlierLayout(docs.sparkSession, path)
    indexRows(docs, idCol, textCol, numHashes, bands).write.mode("append").parquet(s"$path/sigs")
  }

  /** Whether `path` holds an index in the earlier two-table layout (a
    * `bands/` table beside `sigs/`). Its `sigs/` has no band keys, so a
    * probe would read them as nulls and find nothing; a caller that
    * reuses built indexes rebuilds such a one with [[write]]. */
  def earlierLayout(spark: SparkSession, path: String): Boolean = {
    val bands = new Path(path, "bands")
    bands.getFileSystem(spark.sessionState.newHadoopConf()).exists(bands)
  }

  private def refuseEarlierLayout(spark: SparkSession, path: String): Unit =
    if (earlierLayout(spark, path))
      throw new IllegalStateException(s"$path is a near-dup index in the earlier two-table " +
        "layout (bands/ beside sigs/); rebuild it with DedupIndex.write")

  /** The index rows of `docs`: (id, mh_*, bh_*) of each document with
    * shingles. The documents are filtered on their text, ahead of the
    * minhash kernel, so the kernel runs once per row. */
  private def indexRows(
      docs: DataFrame, idCol: String, textCol: String, numHashes: Int, bands: Int): DataFrame = {
    val sigs = Dedup.minHashSignatures(docs.filter(Dedup.hasShingles(col(textCol))),
      idCol, textCol, numHashes)
    sigs.select(sigs.columns.map(col).toIndexedSeq ++
      Dedup.bandHashes(numHashes, bands).zipWithIndex.map { case (h, b) => h.as(s"bh_$b") }: _*)
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
    refuseEarlierLayout(spark, path)
    // the batch side in one job: signatures and band keys together, to
    // the driver — the index's own row layout
    val batchSide = indexRows(batch, idCol, textCol, numHashes, bands)
    val batchRows = batchSide.collect()
    def bandKeys(r: Row) = Iterator.tabulate(bands)(b => (r.getLong(1 + numHashes + b), b))
    val corpus = spark.read
      .schema(StructType(batchSide.schema.fields.map(_.copy(nullable = true))))
      .parquet(s"$path/sigs")
    val corpusBands = corpus.select(col(idCol),
      posexplode(array((0 until bands).map(b => col(s"bh_$b")): _*)).as(Seq("band_idx", "band_hash")))

    // hot-bucket cap: one aggregate-only histogram over the band keys
    // (map-side partials — one row per bucket per task, never the
    // index rows), restricted to the probed band hashes and capped, so
    // at most one row per probed bucket reaches the driver
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
    val idField = batchSide.schema(idCol)
    val pairSchema = StructType(Seq(idField.copy(name = "corpus_id", nullable = true),
      idField.copy(name = "batch_id"), StructField("est_jaccard", DoubleType)))
    if (candUpperBound <= maxLocalCandidates)
      Left(LocalPairs(pairSchema, localPairs(batchRows, okBuckets, corpus, idCol, numHashes, bandKeys)))
    else
      Right(shufflePairs(spark, batchSide.schema, batchRows, okBuckets, corpusBands, corpus,
        idCol, numHashes, bandKeys))
  }

  /** The normal regime: the index rows in the capped probed buckets
    * are collected, and the driver joins each with the batch side — the
    * same multiset of rows the shuffle joins emit (one per matching
    * index row and batch row) whenever an id's index rows are copies
    * of one document, as the append contract has them. The scan is
    * read as encoded rows, one at a time, without boxing. */
  private def localPairs(
      batchRows: Array[Row], okBuckets: Array[mutable.LongMap[Long]], corpus: DataFrame,
      idCol: String, numHashes: Int,
      bandKeys: Row => Iterator[(Long, Int)])(emit: (Any, Any, Double) => Unit): Unit = {
    // batch ids per capped probed bucket (null ids join nothing)
    val bands = okBuckets.length
    val batchIdsAt = Array.fill(bands)(mutable.LongMap.empty[List[Any]])
    for (r <- batchRows if !r.isNullAt(0); (h, b) <- bandKeys(r) if okBuckets(b).contains(h))
      batchIdsAt(b)(h) = r.get(0) :: batchIdsAt(b).getOrElse(h, Nil)
    val probed = (0 until bands).filter(batchIdsAt(_).nonEmpty)
    if (probed.isEmpty) return

    val idType = corpus.schema(idCol).dataType
    val toId = CatalystTypeConverters.createToScalaConverter(idType)
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
    // each returned row pairs with the batch ids of its own capped
    // probed buckets (one batch id in several of them is distinct'd)
    Bridge.collectEncoded(corpus.filter(probed
      .map(b => inSorted(col(s"bh_$b"), batchIdsAt(b).keysIterator.toArray)).reduce(_ || _)))
      .foreach { s =>
        if (!s.isNullAt(0)) {
          val ids = Iterator.range(0, bands)
            .flatMap(b => batchIdsAt(b).getOrElse(s.getLong(1 + numHashes + b), Nil)).distinct
          if (ids.hasNext) {
            val c = toId(s.get(0, idType))
            ids.foreach(b => batchById(b).foreach(r => emit(c, b, est(s, r))))
          }
        }
      }
  }

  /** Above the candidate ceiling: the candidate and signature joins as
    * one planned shuffle join over local relations of the batch side —
    * the candidate rows never reach the driver. */
  private def shufflePairs(
      spark: SparkSession, batchSchema: StructType, batchRows: Array[Row],
      okBuckets: Array[mutable.LongMap[Long]], corpusBands: DataFrame, corpus: DataFrame,
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
    val mh = (0 until numHashes).map(i => s"mh_$i")
    val aSigs = corpus.select(col(idCol).as("corpus_id") +: mh.map(c => col(c).as(s"a_$c")): _*)
    val bSigs = local(batchRows.toSeq, batchSchema)
      .select(col(idCol).as("batch_id") +: mh.map(c => col(c).as(s"b_$c")): _*)
    val agree = mh
      .map(c => when(col(s"a_$c") === col(s"b_$c"), 1).otherwise(0))
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
