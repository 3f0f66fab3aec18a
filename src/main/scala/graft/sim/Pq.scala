package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011 — public algorithm):
  * split each d-dim vector into `m` contiguous subvectors, k-means
  * each subspace to `k` centroids, store every vector as m small
  * codes. Memory per vector drops from 4d bytes to m bytes (k ≤ 256)
  * — the compression that lets a 100 TB embedding corpus hold an ANN
  * index in executor memory; combined with IVF cells (Similarity
  * .ivfIndex) this is the standard IVF-PQ layout. Queries score codes
  * with Asymmetric Distance Computation (ADC): dist ≈ Σ_j lut_j[code_j]
  * where the per-query lookup tables fold driver-side against the
  * codebooks (m·k doubles — tiny).
  *
  * Reproducibility discipline mirrors IVF: spark.ml KMeans FITS the
  * codebooks (seeded, coarse — a quantizer needs coverage, not
  * convergence), but every assignment goes through the deterministic
  * argmin expression (struct array_min, lowest-code tie-break, fixed
  * left-to-right dot folds) so encode and ADC are bitwise
  * SQL-mirrorable and codegen-resident. Codebooks/luts inject into
  * oracles as literals, the PCA/IVF pattern.
  */
object Pq {

  /** codebooks(j)(c) = centroid c of subspace j (length d/m each). */
  final case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def subDim: Int = codebooks.head.head.length

    /** Per-query ADC lookup table: lut(j)(c) = ‖q_j − codebook_j(c)‖²
      * with the same left-to-right fold as every similarity kernel. */
    def adcLut(query: Array[Double]): Array[Array[Double]] =
      codebooks.zipWithIndex.map { case (book, j) =>
        book.map { cent =>
          var acc = 0.0
          var i = 0
          while (i < cent.length) {
            val diff = query(j * subDim + i) - cent(i)
            acc += diff * diff
            i += 1
          }
          acc
        }
      }
  }

  /** Fit m per-subspace codebooks on a BOUNDED hash-ordered sample —
    * one TakeOrdered job total, then driver-side Lloyd per subspace.
    * This is production PQ practice (faiss trains codebooks on a
    * sample): the model is k·d doubles, so full-corpus training buys
    * nothing, while m distributed KMeans fits cost ~m·maxIter·2 Spark
    * jobs (the first cut of this operator was the slowest query in
    * the bench for exactly that reason). The sample is selected by
    * (xxhash64(vector), vector) order — deterministic and
    * partitioning-independent — and Lloyd runs a fixed `maxIter`
    * sweeps from first-k-distinct init, so codebooks are reproducible
    * and inject into oracles as literals like every fitted model. */
  def fit(
      embeddings: DataFrame, vecCol: String, dim: Int,
      m: Int = 4, k: Int = 16, seed: Long = 42L, maxIter: Int = 5,
      sampleN: Int = 4096): PqModel = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subDim = dim / m
    val v = transform(col(vecCol), _.cast("double"))
    val sample = embeddings
      .select(v.as("_v"))
      .withColumn("_h", xxhash64(concat_ws(",", lit(seed.toString), col("_v").cast("string"))))
      .orderBy(col("_h"), col("_v"))
      .limit(sampleN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot fit PQ on an empty frame")
    val codebooks = (0 until m).map { j =>
      val subs = sample.map(_.slice(j * subDim, (j + 1) * subDim))
      lloyd(subs, k, maxIter)
    }.toArray
    PqModel(codebooks)
  }

  /** Deterministic driver-side Lloyd: first-k-distinct init in sample
    * order, fixed sweep count, argmin ties to the lowest centroid,
    * means accumulated in sample order. Empty cells keep their
    * previous centroid (standard small-sample fallback). */
  private[sim] def lloyd(
      points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
    var i = 0
    while (i < points.length && init.length < k) {
      if (seen.add(points(i).toSeq)) init += points(i).clone()
      i += 1
    }
    while (init.length < k) init += init(init.length % math.max(seen.size, 1)).clone()
    var cents = init.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](points.head.length))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var x = 0
          while (x < p.length) { val t = p(x) - cents(c)(x); d += t * t; x += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var x = 0
        while (x < p.length) { sums(best)(x) += p(x); x += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    cents
  }

  /** Deterministic encode: per subspace, argmin over the codebook of
    * ‖s‖² − 2·s·c + ‖c‖² (struct array_min, ties to the lowest code —
    * exactly Similarity.assignCells per subspace). Output: `codeCol`
    * int array of length m. Row-local, zero shuffles. */
  def encode(
      embeddings: DataFrame, vecCol: String, model: PqModel,
      codeCol: String = "pq_code"): DataFrame = {
    val v = transform(col(vecCol), _.cast("double"))
    val codes = (0 until model.m).map { j =>
      val sub = slice(v, j * model.subDim + 1, model.subDim)
      val sv = Similarity.dot(sub, sub)
      val entries = model.codebooks(j).zipWithIndex.map { case (cArr, c) =>
        val cLit = array(cArr.toIndexedSeq.map(lit): _*)
        val c2 = cArr.foldLeft(0.0)((a, x) => a + x * x)
        struct((sv - lit(2.0) * Similarity.dot(sub, cLit) + lit(c2)).as("d"),
          lit(c).as("c"))
      }
      array_min(array(entries.toIndexedSeq: _*)).getField("c")
    }
    embeddings.withColumn(codeCol, array(codes: _*))
  }

  /** IVF-PQ: the standard billion-scale ANN layout — probe the
    * `probes` coarse cells (from Similarity.ivfIndex/probeCells), then
    * ADC-score ONLY their members' codes. With storage partitioned by
    * cell id the probe filter is partition pruning, and the scored
    * data is m bytes/vector: the scan cost at 100 TB is
    * (nProbe/nCells) × (m / 4d) of the raw corpus. */
  def ivfPqTopK(
      encodedAssigned: DataFrame, idCol: String, model: PqModel,
      query: Array[Double], probes: Array[Int], k: Int,
      cellCol: String = "_cell", codeCol: String = "pq_code",
      distCol: String = "adc_dist"): DataFrame =
    adcTopK(
      encodedAssigned.filter(col(cellCol).isin(probes.map(Int.box).toIndexedSeq: _*)),
      idCol, model, query, k, codeCol, distCol)

  /** ADC top-k: per row, Σ_j lut_j[code_j] (left-to-right over j — a
    * plain + chain of m literal-array lookups, whole-stage codegen'd),
    * then orderBy+limit (TakeOrderedAndProject — no global sort).
    * Ties break to the lowest id. The scan reads ONLY (id, codes):
    * m bytes of index per vector instead of the raw embeddings. */
  def adcTopK(
      encoded: DataFrame, idCol: String, model: PqModel,
      query: Array[Double], k: Int,
      codeCol: String = "pq_code", distCol: String = "adc_dist"): DataFrame = {
    val lut = model.adcLut(query)
    val dist = (0 until model.m).map { j =>
      val lutLit = array(lut(j).toIndexedSeq.map(lit): _*)
      element_at(lutLit, col(codeCol).getItem(j) + 1)
    }.reduce(_ + _)
    encoded.select(col(idCol), dist.as(distCol))
      .orderBy(col(distCol).asc, col(idCol).asc)
      .limit(k)
  }

  // ---- PRODUCTION path (round 13). The SQL-replayable forms above
  //      keep the oracle contract at tiny codebooks (k=16); production
  //      codebooks are the faiss-standard k=256 (and m up to d/4),
  //      where per-centroid expression subtrees stop being a
  //      reasonable plan. These twins carry codebooks/LUTs as flat
  //      reference objects inside ONE codegen'd expression
  //      (graft.functions.PqExpressions) with BIT-IDENTICAL arithmetic
  //      — PqSpec asserts encode/ADC equality against the SQL forms
  //      across codebook sizes, so either path feeds either scorer. ----

  /** [[encode]] with the codegen'd kernel — the default for
    * production codebook sizes. */
  def encodeNative(
      embeddings: DataFrame, vecCol: String, model: PqModel,
      codeCol: String = "pq_code"): DataFrame =
    embeddings.withColumn(codeCol,
      graft.functions.PqExpressions.pqEncode(col(vecCol), model.codebooks))

  /** [[adcTopK]] with the codegen'd LUT kernel. */
  def adcTopKNative(
      encoded: DataFrame, idCol: String, model: PqModel,
      query: Array[Double], k: Int,
      codeCol: String = "pq_code", distCol: String = "adc_dist"): DataFrame =
    encoded.select(col(idCol),
        graft.functions.PqExpressions.pqAdc(col(codeCol), model.adcLut(query)).as(distCol))
      .orderBy(col(distCol).asc, col(idCol).asc)
      .limit(k)

  /** ADC + EXACT RE-RANK — the standard production shape for
    * quantized indexes (faiss's refine stage, Jégou et al. §V.C):
    * ADC selects a `poolK`-candidate pool from the m-byte codes, then
    * exact squared-L2 over the RAW vectors re-ranks just the pool.
    * Recall@k becomes P(true top-k ⊆ ADC top-poolK) — on corpora
    * where raw ADC recall saturates (near-uniform embeddings are the
    * quantizer's information-theoretic worst case), a 10·k pool
    * recovers most of it. Cost at scale: the code scan (m bytes/vec)
    * plus poolK raw-vector point-reads per query — the pool join
    * broadcasts, the corpus never reshuffles.
    *
    * The exact leg reuses [[AnnRecall.bruteForceL2TopK]]'s expression
    * trees (same fold discipline), restricted to the pool. */
  def adcTopKRefined(
      encoded: DataFrame, raw: DataFrame, idCol: String, vecCol: String,
      model: PqModel, query: Array[Double], k: Int, poolK: Int,
      codeCol: String = "pq_code"): DataFrame = {
    require(poolK >= k, s"poolK=$poolK must be >= k=$k")
    val pool = adcTopKNative(encoded, idCol, model, query, poolK, codeCol)
      .select(col(idCol))
    val qCol = array(query.toIndexedSeq.map(lit): _*)
    val q2 = query.foldLeft(0.0)((a, x) => a + x * x)
    val v = col(vecCol)
    raw.join(broadcast(pool), Seq(idCol), "left_semi")
      .select(col(idCol),
        (Similarity.dot(v, v) - lit(2.0) * Similarity.dot(v, qCol) + lit(q2))
          .as("dist2"))
      .orderBy(col("dist2"), col(idCol))
      .limit(k)
  }
}
