package graft.sim

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.BuildManifest

/** The ANN SERVING layout: index structures (IVF cells, LSH buckets)
  * materialized as PARTITION COLUMNS of the stored embedding table, so
  * a query's probe filter becomes directory-level partition pruning —
  * the scan opens nProbe/nCells (IVF) or numTables/2^numPlanes (LSH)
  * of the data instead of evaluating the assignment per row over the
  * full corpus.
  *
  * This is the piece that makes [[Similarity.lshTopK]]/[[
  * Similarity.ivfTopK]] an INDEX rather than a re-filtered full scan:
  * computed on the fly, the LSH bucket filter costs numTables×numPlanes
  * dot products per row (more than brute force's 2) and the IVF cell
  * filter costs nCells distance evaluations per row. Partitioned
  * storage moves that work to ingest (once) and turns every query's
  * probe into a lookup of committed files. PlanSpec asserts the pruned
  * plans' PartitionFilters carry the probe predicate.
  *
  * Build contract: an index is written once, by one writer, and then
  * only read. Each writer here ends with [[graft.io.BuildManifest]]'s
  * publish, after every data and side file (the IVF centroids) is on
  * disk, so an index without a manifest is an unfinished build. The
  * serving reads open exactly the files the manifest names and never
  * list the tree. An index is changed only by writing it again, which
  * deletes the old files: a rewrite must not run under its readers.
  */
object AnnIndex {

  /** The IVF probe-side constants, stored beside the cells so a reused
    * index skips the fit. One row per centroid, `Double.toString`
    * values space-separated (round-trips exactly). */
  private val CentroidsFile = "_centroids.txt"

  /** Write the IVF-assigned embedding table partitioned by coarse cell
    * (from [[Similarity.assignCells]]), plus the `centroids` it was
    * assigned with. nCells is bounded (a coarse quantizer — 2^10..2^14
    * in practice), so the directory fan-out is safe; within a cell,
    * files stay row-grouped for columnar reads. */
  def writeIvfIndexed(
      assigned: DataFrame, centroids: Array[Array[Double]], path: String,
      cellCol: String = "_cell"): Unit = {
    // repartition on the partition column first: each cell's rows land
    // in one task → one file per directory (otherwise every write task
    // opens a file in every cell it sees — small-file explosion).
    // File size within a cell is governed by maxRecordsPerFile.
    assigned.repartition(col(cellCol))
      .write.mode("overwrite").partitionBy(cellCol).parquet(path)
    val p = new Path(path, CentroidsFile)
    val out = p.getFileSystem(assigned.sparkSession.sessionState.newHadoopConf()).create(p, true)
    try out.write(centroids.map(_.mkString(" ") + "\n").mkString.getBytes(UTF_8))
    finally out.close()
    BuildManifest.write(path)
  }

  /** The centroids of a finished IVF index at `path`: None when its
    * manifest is absent or does not verify (the centroids included),
    * or when the index holds no centroids. */
  def storedCentroids(spark: SparkSession, path: String): Option[Array[Array[Double]]] =
    if (!BuildManifest.verifies(path)) None
    else try {
      val p = new Path(path, CentroidsFile)
      val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      Some(body.split("\n").filter(_.nonEmpty).map(_.split(" ").map(_.toDouble)))
    } catch { case _: java.io.FileNotFoundException => None }

  def readIvfIndexed(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** IVF top-k over the cell-partitioned table: same probe + scoring
    * expressions as [[Similarity.ivfTopK]] (bitwise-identical results),
    * but `_cell IN probes` is now a filter on a PARTITION column — the
    * scan never lists the other cells' directories. */
  def ivfTopKIndexed(
      indexed: DataFrame, centroids: Array[Array[Double]],
      idCol: String, vecCol: String,
      query: Array[Double], k: Int, nProbe: Int): DataFrame =
    Similarity.ivfTopK(indexed, centroids, idCol, vecCol, query, k, nProbe)

  /** Write the multi-table LSH index: one row per (table, bucket,
    * vector) — the classic T independent hash tables, materialized as
    * one dataset partitioned by (_t, _b). Storage cost is numTables×
    * the corpus (each table holds every vector once); bucket ids are
    * computed ONCE at ingest instead of per query per row. */
  def writeLshIndexed(
      embeddings: DataFrame, idCol: String, vecCol: String, path: String,
      dim: Int, numPlanes: Int = 8, numTables: Int = 4): Unit = {
    val tb = (0 until numTables).map { t =>
      struct(lit(t).as("t"),
        Similarity.signLshTableBucket(col(vecCol), dim, numPlanes, t).as("b"))
    }
    embeddings
      .select(col(idCol), col(vecCol), explode(array(tb: _*)).as("_tb"))
      .select(col(idCol), col(vecCol),
        col("_tb.t").as("_t"), col("_tb.b").as("_b"))
      .repartition(col("_t"), col("_b")) // one writer per bucket dir
      .write.mode("overwrite").partitionBy("_t", "_b").parquet(path)
    BuildManifest.write(path)
  }

  def readLshIndexed(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Open ONLY the named partition directories of a partitioned table
    * (basePath keeps the partition columns in the schema): the probe
    * resolves against the manifest's committed files, so serving never
    * lists the index tree. Returns None when no committed file lies in
    * a probed dir (every probed bucket is empty). An index without a
    * manifest is an unfinished build and is refused. Paths go through
    * Hadoop's `Path`, so any scheme the session can read (file:/,
    * hdfs://, s3a://...) serves. */
  private def readPartitions(
      spark: SparkSession, base: String, subDirs: Seq[String]): Option[DataFrame] = {
    val committed = BuildManifest.files(base).getOrElse(
      throw new IllegalStateException(s"no build manifest under $base: unfinished index"))
    val hit = committed
      .filter(f => subDirs.exists(d => f.startsWith(d + "/")))
      .map(f => new Path(base, f).toString)
    if (hit.isEmpty) None
    else Some(spark.read.option("basePath", base).parquet(hit: _*))
  }

  /** The LSH SERVING read: the probe buckets are driver-side constants,
    * so only the committed files of numTables directories are scanned. Same
    * scoring as [[lshTopKIndexed]]. */
  def lshTopKServe(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      query: Array[Double], k: Int,
      numPlanes: Int = 8, numTables: Int = 4): DataFrame = {
    val dirs = (0 until numTables).map { t =>
      s"_t=$t/_b=${Similarity.queryBucket(t, query, numPlanes)}"
    }
    readPartitions(spark, path, dirs) match {
      case Some(df) => lshTopKIndexed(df, idCol, vecCol, query, k, numPlanes, numTables)
      case None => lshTopKIndexed(readLshIndexed(spark, path).limit(0),
        idCol, vecCol, query, k, numPlanes, numTables)
    }
  }

  /** The IVF SERVING read: scan only the probed cells' committed files. */
  def ivfTopKServe(
      spark: SparkSession, path: String, centroids: Array[Array[Double]],
      idCol: String, vecCol: String,
      query: Array[Double], k: Int, nProbe: Int): DataFrame = {
    val probes = Similarity.probeCells(centroids, query, nProbe)
    readPartitions(spark, path, probes.toSeq.map(c => s"_cell=$c")) match {
      case Some(df) => ivfTopKIndexed(df, centroids, idCol, vecCol, query, k, nProbe)
      case None => ivfTopKIndexed(readIvfIndexed(spark, path).limit(0),
        centroids, idCol, vecCol, query, k, nProbe)
    }
  }

  /** LSH top-k over the (_t, _b)-partitioned table: probe one bucket
    * per table (the query's bucket — driver constants), dedup vectors
    * found by several tables, score with the same cosine expression as
    * [[Similarity.lshTopK]]. The probe predicate touches only
    * partition columns → partition pruning; candidate cardinality is
    * ≤ numTables·E[bucket size], so the dedup + top-k stage is tiny. */
  def lshTopKIndexed(
      indexed: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int,
      numPlanes: Int = 8, numTables: Int = 4): DataFrame = {
    val pred = (0 until numTables).map { t =>
      col("_t") === lit(t) &&
        col("_b") === lit(Similarity.queryBucket(t, query, numPlanes))
    }.reduce(_ || _)
    val qCol = array(query.toIndexedSeq.map(lit): _*)
    indexed
      .filter(pred)
      .select(col(idCol), col(vecCol))
      // a vector whose buckets match in >1 table appears once per
      // table — rows are identical, so any-one-per-id is deterministic
      .dropDuplicates(idCol)
      .select(col(idCol),
        Similarity.cosine(col(vecCol), qCol).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  // ---- BATCHED multi-query serving (round 13): the recall harness's
  //      one-plan shape applied to the serving layout. A request batch
  //      of nq queries probes the UNION of its cells in one
  //      partition-pruned scan; each scanned row explodes into its
  //      candidate (qid, score) entries — candidacy gated per query, so
  //      a row never pays a score for a query that didn't probe its
  //      partition — and a mergeable bounded top-k per qid
  //      (TopKPriorityAgg, priority DESC / id ASC == the single-query
  //      orderBy) replaces nq separate jobs. Entry arrays chunk at
  //      [[AnnRecall.chunkSize]] per pass (Janino method-size
  //      bound); chunk qids are disjoint so the union of chunk outputs
  //      is the batch answer. Scores are the single-query expression
  //      trees verbatim — per-query results are row-identical to the
  //      single-query serve (spec-asserted), except that a null score
  //      (zero-norm vector) never enters a batch top-k while the
  //      single-query LIMIT could admit one when candidates < k. ----

  /** The explode → gated score → per-qid bounded top-k kernel.
    * Output: one row per (qid, rank): (qid, id, score) with k rows per
    * qid in rank order; `idCol` is cast to long (the agg's id slot). */
  private def batchTopK(
      base: DataFrame, idCol: String,
      entries: Seq[(Int, Column, Column)], k: Int): DataFrame = {
    val arr = array(entries.map { case (qid, inc, pri) =>
      struct(lit(qid).as("qid"), inc.as("inc"), when(inc, pri).as("pri"))
    }: _*)
    base
      .select(col(idCol).cast("long").as("_id"), explode(arr).as("e"))
      .filter(col("e.inc"))
      .groupBy(col("e.qid").as("qid"))
      .agg(graft.functions.SketchFunctions.topKByPriority(
        col("e.pri"), col("_id"), col("e.pri"), k).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_rank", "_e")))
      .select(col("qid"), col("_e.id").as(idCol), col("_e.pri").as("cosine"),
        col("_rank").as("rank"))
  }

  /** Batched [[ivfTopKIndexed]]: one partition-pruned scan of the
    * UNION of the batch's probe cells answers every query. Returns
    * (qid, idCol, cosine, rank) — per qid, the same k rows in the same
    * order as the single-query path. */
  def ivfTopKIndexedBatch(
      indexed: DataFrame, centroids: Array[Array[Double]],
      idCol: String, vecCol: String,
      queries: Seq[Array[Double]], k: Int, nProbe: Int): DataFrame = {
    require(queries.nonEmpty, "empty query batch")
    val v = col(vecCol)
    queries.zipWithIndex.grouped(AnnRecall.chunkSize(nProbe)).map { chunk =>
      val probesByQ = chunk.map { case (q, qid) =>
        (qid, q, Similarity.probeCells(centroids, q, nProbe)) }
      val entries = probesByQ.map { case (qid, q, probes) =>
        val qCol = array(q.toIndexedSeq.map(lit): _*)
        val qNorm = math.sqrt(q.foldLeft(0.0)((acc, x) => acc + x * x))
        (qid, col("_cell").isin(probes.toIndexedSeq: _*),
          // ivfTopK's scoring tree verbatim — bit-identical ordering
          try_divide(Similarity.dot(v, qCol), Similarity.norm(v) * lit(qNorm)))
      }
      // the per-query candidacy sits inside the exploded entry struct,
      // invisible to partition pruning — this plain column predicate on
      // the chunk's probe UNION is what reaches the scan as a
      // PartitionFilter (and bounds the explode input)
      val chunkCells = probesByQ.flatMap(_._3).distinct
      batchTopK(
        indexed.filter(col("_cell").isin(chunkCells: _*)), idCol, entries, k)
    }.reduce(_ unionByName _)
  }

  /** Batched [[ivfTopKServe]]: read the manifest ONCE, open the
    * union of every query's probed cell dirs, answer the whole batch
    * from that one read. */
  def ivfTopKServeBatch(
      spark: SparkSession, path: String, centroids: Array[Array[Double]],
      idCol: String, vecCol: String,
      queries: Seq[Array[Double]], k: Int, nProbe: Int): DataFrame = {
    val dirs = queries
      .flatMap(q => Similarity.probeCells(centroids, q, nProbe))
      .distinct.map(c => s"_cell=$c")
    val base = readPartitions(spark, path, dirs)
      .getOrElse(readIvfIndexed(spark, path).limit(0))
    ivfTopKIndexedBatch(base, centroids, idCol, vecCol, queries, k, nProbe)
  }
}
