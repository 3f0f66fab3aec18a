package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MEASURED recall@k of the ANN family against exact baselines — the
  * quality number that justifies the speed/recall tradeoff knobs
  * (numPlanes/numTables, nCells/nProbe, m/k). Each approximate method
  * is scored against the exact search in ITS OWN metric:
  * LSH/IVF approximate the exact COSINE top-k; PQ/IVF-PQ approximate
  * the exact L2 top-k (ADC is a squared-L2 estimator — scoring it
  * against cosine would conflate quantization loss with metric
  * mismatch on unnormalized vectors).
  *
  * Scale shape (round-12 rewrite): ALL query vectors evaluate batched.
  * The query matrix is driver-side literals (an eval set is tiny next
  * to the corpus); each corpus row explodes into its per-query
  * (qid, score) entries — candidate-gated, so non-candidate scores are
  * never computed — and a mergeable bounded top-k aggregate
  * ([[graft.functions.SketchFunctions.topKByPriority]]: ≤k entries per
  * map task, priority DESC / id ASC exactly matching the single-query
  * orderBy(score, id)) replaces any per-query job. The previous shape
  * ran ~6 jobs PER query vector, serialized on the driver (62 s at
  * sf10 for 1 query; hours at a 10k-query eval set).
  *
  * The per-row entry array is CHUNKED at [[chunkSize]] queries per
  * pass (round 13): the whole array is built inside one generated
  * method, so one projection of 10k struct literals would blow
  * Janino's 64KB-per-method codegen limit long before the driver or
  * the cluster noticed, and the ungated truth scans would explode nq
  * entries per corpus row. Chunks have disjoint qids, so the merged
  * result is literally the union of per-chunk maps — bit-identical to
  * the unchunked plan (spec-asserted). Cost: ceil(nq/chunk) scans per
  * method instead of one; still zero driver-side per-query work.
  *
  * TextSimSpec asserts per-config floors at the default knobs; the
  * measured matrix per SF is in BENCH_NOTES.md ("Round-5: measured ANN
  * recall@20" and its round-6/8/12/13 follow-ups).
  */
object AnnRecall {

  /** pqSampleN/pqIters size the codebook FIT (Pq.fit's bounded
    * sample + Lloyd sweeps): production codebooks (k=256) need more
    * training points per centroid than the oracle-tiny defaults.
    * refineK > 0 additionally measures the REFINED quantizer recalls
    * (`pq_refined`/`ivfpq_refined`): recall@k of exact re-ranking over
    * the ADC top-refineK pool — [[Pq.adcTopKRefined]]'s production
    * shape, whose recall is exactly P(true top-k ⊆ ADC pool). */
  final case class AnnConfig(
      numPlanes: Int = 8, numTables: Int = 4,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 8, codebookK: Int = 16,
      pqSampleN: Int = 4096, pqIters: Int = 5,
      refineK: Int = 0)

  /** Queries per batched pass when each entry carries `comparisons`
    * candidacy comparisons (LSH tables or IVF probes). The entries of
    * one chunk are generated into a single method that Janino caps at
    * 64 KB; the vector dimension does not count (the query literal
    * arrays fold into constants). Measured with codegen fallback off,
    * dim 16 and 64, one table or probe per entry up to 8 tables or 16
    * probes: the largest chunk that compiled was ~833 / (5.4 + c) for
    * c tables (133 at 1, 94 at 4, 63 at 8) and higher for probes (99 at
    * 4, 77 at 16). This budget keeps ~30% below the table curve; the
    * former fixed 256 failed to compile at every setting and ran
    * interpreted. `-Dgraft.ann.recallChunk=N` overrides (tests force
    * tiny chunks to assert chunking is invisible in the results). */
  private[sim] def chunkSize(comparisons: Int): Int = sys.props.get("graft.ann.recallChunk")
    .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0)
    .getOrElse(math.max(1, 640 / (6 + comparisons)))

  /** Exact L2 top-k (the PQ-family baseline): ‖v‖² − 2·v·q + ‖q‖²
    * with the same fold discipline as assignCells. */
  def bruteForceL2TopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame = {
    val qCol = array(query.toIndexedSeq.map(lit): _*)
    val q2 = query.foldLeft(0.0)((a, x) => a + x * x)
    val v = col(vecCol)
    embeddings
      .select(col(idCol),
        (Similarity.dot(v, v) - lit(2.0) * Similarity.dot(v, qCol) + lit(q2)).as("dist2"))
      .orderBy(col("dist2"), col(idCol))
      .limit(k)
  }

  /** Mean recall@k per method over `queryIds`, with the indexes fit
    * ONCE and reused across queries (the serving shape) and every
    * method scoring ALL queries in a single batched scan. */
  def measure(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryIds: Seq[Long], k: Int, cfg: AnnConfig): Map[String, Double] = {
    // sorted for deterministic literal order in the per-row entry array
    val queries: Seq[(Long, Array[Double])] = emb
      .filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol), transform(col(vecCol), _.cast("double")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toSeq.sortBy(_._1)
    require(queries.nonEmpty, "no query vectors found")
    val (assigned0, cents) = Similarity.ivfIndex(emb, idCol, vecCol, cfg.nCells)
    val assigned = assigned0.persist(graft.ops.Caches.memoLevel(emb.sparkSession))
    val pqModel = Pq.fit(emb, vecCol, dim, cfg.m, cfg.codebookK,
      maxIter = cfg.pqIters, sampleN = cfg.pqSampleN)
    // native encode: bit-identical to Pq.encode (PqSpec), and the only
    // viable shape at production codebooks — k=256 as per-centroid
    // expression subtrees would not codegen
    val encoded = Pq.encodeNative(emb, vecCol, pqModel)
      .persist(graft.ops.Caches.memoLevel(emb.sparkSession))
    val encodedIvf = Pq.encodeNative(assigned, vecCol, pqModel)
      .persist(graft.ops.Caches.memoLevel(emb.sparkSession))

    val perChunk = chunkSize(math.max(cfg.numTables, cfg.nProbe))
    // One job per ≤perChunk queries: explode each row into its
    // candidate (qid, priority) entries (score gated behind the
    // candidacy predicate via when, so pruned methods never compute
    // pruned scores), bounded top-k per qid, collect the tiny (nq × k)
    // id sets. `pri` must be DESC-is-better; ascending metrics pass
    // the negated score. Chunk qids are disjoint → merging is union.
    def topIdsPerQuery(
        base: DataFrame,
        entry: (Long, Array[Double]) => (Column, Column),
        kk: Int = k): Map[Long, Set[Long]] =
      queries.grouped(perChunk).foldLeft(Map.empty[Long, Set[Long]]) { (acc, chunk) =>
        val arr = array(chunk.map { case (qid, q) =>
          val (inc, pri) = entry(qid, q)
          struct(lit(qid).as("qid"), inc.as("inc"), when(inc, pri).as("pri"))
        }: _*)
        acc ++ base
          .select(col(idCol).cast("long").as("_id"), explode(arr).as("e"))
          .filter(col("e.inc"))
          .groupBy(col("e.qid").as("qid"))
          .agg(graft.functions.SketchFunctions.topKByPriority(
            col("e.pri"), col("_id"), col("e.pri"), kk).as("_top"))
          .select(col("qid"), col("_top.id").as("ids"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      }

    val v = col(vecCol)
    def qLit(q: Array[Double]): Column = array(q.toIndexedSeq.map(lit): _*)
    def qNorm(q: Array[Double]): Double =
      math.sqrt(q.foldLeft(0.0)((acc, x) => acc + x * x))
    // identical expression trees to the single-query methods, with the
    // per-row norm/self-dot projected once and shared across queries
    def cosineOf(q: Array[Double]): Column =
      try_divide(Similarity.dot(v, qLit(q)), col("_vnorm") * lit(qNorm(q)))
    def l2Of(q: Array[Double]): Column =
      col("_vv") - lit(2.0) * Similarity.dot(v, qLit(q)) +
        lit(q.foldLeft(0.0)((a, x) => a + x * x))
    def adcOf(q: Array[Double]): Column =
      // native LUT kernel — same fold as the element_at chain, one
      // reference object per query instead of m·k literals per entry
      graft.functions.PqExpressions.pqAdc(col("pq_code"), pqModel.adcLut(q))
    val withNorm = emb.withColumn("_vnorm", Similarity.norm(v))
    val withVv = emb.withColumn("_vv", Similarity.dot(v, v))

    val cosTruth = topIdsPerQuery(withNorm,
      (_, q) => (lit(true), cosineOf(q)))
    val l2Truth = topIdsPerQuery(withVv,
      (_, q) => (lit(true), -l2Of(q)))
    val lsh = topIdsPerQuery(
      // table buckets project ONCE per row and the per-query candidacy
      // is numTables integer comparisons — the multi-query shape where
      // the full packed bucket beats lshTopK's short-circuit form
      (0 until cfg.numTables).foldLeft(withNorm) { (d, t) =>
        d.withColumn(s"_b$t",
          Similarity.signLshTableBucket(v, dim, cfg.numPlanes, t))
      },
      (_, q) => (
        (0 until cfg.numTables).map(t =>
          col(s"_b$t") === lit(Similarity.queryBucket(t, q, cfg.numPlanes)))
          .reduce(_ || _),
        cosineOf(q)))
    val ivf = topIdsPerQuery(
      assigned.withColumn("_vnorm", Similarity.norm(v)),
      (_, q) => (
        col("_cell").isin(
          Similarity.probeCells(cents, q, cfg.nProbe).toIndexedSeq: _*),
        cosineOf(q)))
    val pq = topIdsPerQuery(encoded,
      (_, q) => (lit(true), -adcOf(q)))
    val ivfpq = topIdsPerQuery(encodedIvf,
      (_, q) => (
        col("_cell").isin(
          Similarity.probeCells(cents, q, cfg.nProbe).toIndexedSeq: _*),
        -adcOf(q)))
    // refined quantizer recall: exact re-rank over the ADC top-refineK
    // pool retrieves exactly (pool ∩ true top-k), so the measurement
    // is the pool scan at kk = refineK — no separate re-rank job
    val (pqPool, ivfpqPool) =
      if (cfg.refineK > 0)
        (Some(topIdsPerQuery(encoded,
          (_, q) => (lit(true), -adcOf(q)), cfg.refineK)),
         Some(topIdsPerQuery(encodedIvf,
          (_, q) => (
            col("_cell").isin(
              Similarity.probeCells(cents, q, cfg.nProbe).toIndexedSeq: _*),
            -adcOf(q)), cfg.refineK)))
      else (None, None)
    assigned.unpersist(); encoded.unpersist(); encodedIvf.unpersist()

    def recall(approx: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double =
      queries.map { case (qid, _) =>
        (approx.getOrElse(qid, Set.empty) & truth.getOrElse(qid, Set.empty)).size
      }.sum.toDouble / (k.toDouble * queries.size)

    Map(
      "lsh" -> recall(lsh, cosTruth),
      "ivf" -> recall(ivf, cosTruth),
      "pq" -> recall(pq, l2Truth),
      "ivfpq" -> recall(ivfpq, l2Truth)) ++
      pqPool.map(p => "pq_refined" -> recall(p, l2Truth)) ++
      ivfpqPool.map(p => "ivfpq_refined" -> recall(p, l2Truth))
  }
}
