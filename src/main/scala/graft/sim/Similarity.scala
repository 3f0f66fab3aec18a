package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`) —
  * north-star extension surface.
  *
  * Baseline: brute-force cosine top-k (one narrow scan + a top-k
  * aggregation — no shuffle of the embedding table beyond the final
  * k rows). Scale path: sign-LSH bucketing (random-hyperplane) that
  * prunes the scan to matching buckets before scoring.
  */
object Similarity {

  /** Sequential-order dot product of two double arrays: left-to-right
    * accumulation — deterministic and identical to any single-node
    * oracle that folds in index order. A native codegen'd Expression
    * (graft.functions.ArrayDotProduct), NOT the
    * `aggregate(zip_with(...))` higher-order form: HOFs are
    * CodegenFallback and pay interpreted lambda evaluation per row in
    * the embedding-scan hot path. Bitwise-identical semantics. */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = try_divide(dot(a, b), norm(a) * norm(b))

  private def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Brute-force cosine top-k against a single query vector (driver
    * constant → literal array; no join at all — the scan stays
    * narrow and whole-stage codegen'd). The query norm is folded
    * driver-side with the SAME left-to-right accumulation as the
    * Column fold, so results stay bitwise oracle-parity while saving
    * one 64-element fold per row. Deterministic tie-break on id. */
  def bruteForceTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame = {
    val q = array(query.toIndexedSeq.map(lit): _*)
    val qNorm = math.sqrt(query.foldLeft(0.0)((acc, x) => acc + x * x))
    // raw float array: ArrayDotProduct widens per element (exact), so
    // no transform(cast) HOF runs in the scan
    val v = col(vecCol)
    embeddings
      .select(col(idCol), try_divide(dot(v, q), norm(v) * lit(qNorm)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random plane coefficient in [-0.5, 0.5]
    * (SplitMix64 via the shared graft.functions.TextHash mixer):
    * computed DRIVER-SIDE so the per-row expression is a plain dot
    * against a literal array rather than thousands of folded
    * hash-expression nodes (which blow up codegen). Same seed → same
    * planes on every run/engine. */
  private def splitMix64(seed: Long): Long =
    graft.functions.TextHash.splitMix64(seed)

  /** Public so an oracle can inline the identical plane constants as
    * SQL literals (they are pure functions of (table, plane, dim) —
    * no data dependence). */
  def planeCoefs(table: Int, plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      val h = splitMix64(table.toLong * 1000003L + plane.toLong * 7919L + i)
      (h.toDouble / Long.MaxValue.toDouble) / 2.0 // [-0.5, 0.5]
    }

  /** LSH-pruned cosine top-k: score only vectors whose bucket matches
    * the query's bucket in at least one of `numTables` independent
    * tables (union of bucket probes). Recall/probe tradeoff via
    * numPlanes/numTables. The scan prunes to matching buckets —
    * with table-partitioning by bucket this becomes partition pruning
    * at 100 TB. */
  def lshTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, dim: Int,
      numPlanes: Int = 8, numTables: Int = 4): DataFrame = {
    val qCol = array(query.toIndexedSeq.map(lit): _*)
    val tables = (0 until numTables).map { t =>
      // bucket equality ⇔ every plane's sign matches the query bucket's
      // bit, so the filter is an AND of per-plane sign checks instead of
      // computing the full packed bucket then comparing: codegen'd And
      // short-circuits at the first mismatching plane, which under the
      // random-plane model evaluates ~2 of the numPlanes dots per table
      // (geometric, p=1/2) — measured 4× less scan CPU at sf10 with a
      // bit-identical selected set (same predicate, same scores)
      val qb = queryBucket(t, query, numPlanes)
      (0 until numPlanes).map { p =>
        // coalesce mirrors signLshTableBucket's when/otherwise: a null
        // projection counts as sign 0, never as a dropped row
        val pos = coalesce(
          dot(col(vecCol), array(planeCoefs(t, p, dim).toIndexedSeq.map(lit): _*)) > 0,
          lit(false))
        if (((qb >> p) & 1L) == 1L) pos else !pos
      }.reduce(_ && _)
    }
    embeddings
      .filter(tables.reduce(_ || _))
      .select(col(idCol), cosine(col(vecCol), qCol).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** The query vector's bucket in table `t` — a pure driver-side
    * constant (plane coefficients are (table, plane, dim) functions),
    * shared by the scan filter in [[lshTopK]] and the partition probe
    * in AnnIndex.lshTopKIndexed. */
  def queryBucket(table: Int, query: Array[Double], numPlanes: Int): Long =
    (0 until numPlanes).map { p =>
      val proj = planeCoefs(table, p, query.length).zip(query)
        .map { case (c, x) => c * x }.sum
      if (proj > 0) 1L << p else 0L
    }.sum

  private[sim] def signLshTableBucket(vec: Column, dim: Int, numPlanes: Int, table: Int): Column = {
    val planes = (0 until numPlanes).map { p =>
      val coefs = array(planeCoefs(table, p, dim).map(lit).toIndexedSeq: _*)
      when(dot(vec, coefs) > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    planes.reduce(_ + _)
  }

  /** IVF (inverted-file) ANN: KMeans coarse quantizer assigns every
    * vector to a cell; queries scan only the `nProbe` cells whose
    * centroids are nearest the query. The scale path when the corpus
    * is partitioned/bucketed by cell id: probing becomes partition
    * pruning and the scan touches nProbe/nCells of the data.
    *
    * Returns (model-assigned frame, centroids) from `ivfIndex`;
    * `ivfTopK` then prunes + scores. spark.ml KMeans (seeded) does the
    * distributed fit.
    */
  def ivfIndex(
      embeddings: DataFrame, idCol: String, vecCol: String,
      nCells: Int, seed: Long = 42L, maxIter: Int = 5): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withFeatures = embeddings.withColumn("_features",
      array_to_vector(asDouble(col(vecCol))))
    // A coarse quantizer only partitions space — it does not need a
    // converged clustering. Few Lloyd iterations + random init skips
    // the multi-pass k-means|| seeding; recall is recovered by nProbe.
    val model = new KMeans().setK(nCells).setSeed(seed)
      .setMaxIter(maxIter).setInitMode("random")
      .setFeaturesCol("_features").setPredictionCol("_cell")
      .fit(withFeatures)
    val centroids = model.clusterCenters.map(_.toArray)
    (assignCells(embeddings, vecCol, centroids), centroids)
  }

  /** Corpus-scaled coarse-cell count: the power of two nearest √n,
    * clamped to [16, 1024] — the faiss rule-of-thumb (cells ≈ √n keeps
    * both the per-cell candidate list and the centroid scan at O(√n)).
    * Registered serving queries use this instead of a fixed nCells so
    * the SAME query definition is oracle-friendly at the sf0.01 gate
    * (500 vectors → 16 centroid literals) and non-saturating at
    * sf10/sf100 (200k → 512, 2M → 1024) — the round-13 weak item was
    * a fixed nCells=16 whose 4-query × nProbe=4 batch probe union
    * covered the whole cell space. */
  def suggestCells(n: Long): Int = {
    val log2 = math.log(math.max(1.0, math.sqrt(n.toDouble))) / math.log(2.0)
    // clamp the EXPONENT (4..10), not the shifted value: 1 << 31+
    // overflows Int for corpora past ~4.6e18 rows
    1 << math.min(10, math.max(4, math.round(log2).toInt))
  }

  /** Sample-fit coarse quantizer — the faiss/SemDeDup practice for a
    * partitioner model that is only k·d doubles: ONE deterministic
    * TakeOrdered job selects a hash-ordered sample, then [[Pq.lloyd]]
    * (the same driver-side deterministic kernel PQ codebooks use)
    * fits the centroids. Versus [[ivfIndex]]'s spark.ml fit this
    * costs 1 job instead of ~2·maxIter — the difference between the
    * fit dominating a query at small SF and disappearing into the
    * floor — at identical model quality for a COARSE quantizer
    * (sampleN ≫ nCells; a partition of space does not need
    * full-corpus convergence). Same downstream contract: feed the
    * returned centroids to [[assignCells]]/[[semanticNearDupPairs]]/
    * oracle literals. */
  def fitCoarseCells(
      embeddings: DataFrame, vecCol: String, nCells: Int,
      seed: Long = 42L, maxIter: Int = 5,
      sampleN: Int = 4096): Array[Array[Double]] = {
    val v = transform(col(vecCol), _.cast("double"))
    val sample = embeddings
      .select(v.as("_v"))
      .withColumn("_h", xxhash64(concat_ws(",", lit(seed.toString), col("_v").cast("string"))))
      .orderBy(col("_h"), col("_v"))
      .limit(sampleN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot fit a quantizer on an empty frame")
    Pq.lloyd(sample, nCells, maxIter)
  }

  /** Deterministic cell assignment: argmin over centroids of
    * ‖v‖² − 2·v·c + ‖c‖² with the same left-to-right array fold as
    * every similarity expression; ties break to the lowest cell id.
    * NOT spark.ml's `model.transform`: its fastSquaredDistance reorders
    * the accumulation (norm-cached BLAS path), so its predictions are
    * not reproducible by any external engine — this expression is
    * bitwise SQL-mirrorable, and codegen-resident (no vector boxing).
    * ‖c‖² folds driver-side once per centroid. */
  def assignCells(
      embeddings: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], cellCol: String = "_cell"): DataFrame =
    // Above the literal-form codegen budget (struct-per-centroid blows
    // Janino's 64KB method limit at production cell counts — the sf100
    // c1024s index build ran INTERPRETED for ~15 min, round-14
    // BENCH_NOTES), dispatch to the native kernel. Bit-identical
    // (SimilaritySpec asserts equality across the threshold): the
    // argmin over ‖v‖² − 2·v·c + ‖c‖² with left-to-right folds and
    // lowest-index ties IS PqEncodeExpr at m=1, k=nCells, subDim=dim.
    if (centroids.length * centroids.head.length > NativeAssignFlops)
      assignCellsNative(embeddings, vecCol, centroids, cellCol)
    else assignCellsLiteral(embeddings, vecCol, centroids, cellCol)

  /** Literal-per-centroid form — the SQL-mirrorable shape oracle sites
    * replay; fine under ~64 cells × 64 dims of generated code. */
  private[graft] def assignCellsLiteral(
      embeddings: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], cellCol: String = "_cell"): DataFrame = {
    val v = col(vecCol)
    val entries = centroids.zipWithIndex.map { case (cArr, i) =>
      val cLit = array(cArr.toIndexedSeq.map(lit): _*)
      val c2 = cArr.foldLeft(0.0)((a, x) => a + x * x)
      struct((col("_vv") - lit(2.0) * dot(v, cLit) + lit(c2)).as("d"), lit(i).as("c"))
    }
    embeddings.withColumn("_vv", dot(v, v))
      .withColumn(cellCol, array_min(array(entries.toIndexedSeq: _*)).getField("c"))
      .drop("_vv")
  }

  /** Literal-form cost ceiling (cells × dims) before dispatching to
    * the reference-object kernel. */
  private[graft] val NativeAssignFlops = 4096

  /** One codegen'd argmin over a flat centroid matrix: PqEncodeExpr
    * with a single subspace spanning the whole vector. */
  private[graft] def assignCellsNative(
      embeddings: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], cellCol: String = "_cell"): DataFrame =
    embeddings.withColumn(cellCol,
      element_at(
        graft.functions.PqExpressions.pqEncode(col(vecCol), Array(centroids)), 1))

  /** The `nProbe` cells whose centroids are nearest the query —
    * driver-side (centroids are tiny). Public so a query site can
    * record the probe set for oracle injection; `ivfTopK` uses exactly
    * this. */
  def probeCells(
      centroids: Array[Array[Double]], query: Array[Double], nProbe: Int): Array[Int] = {
    def dist2(c: Array[Double]) =
      c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
    centroids.zipWithIndex.sortBy(p => dist2(p._1)).take(nProbe).map(_._2)
  }

  def ivfTopK(
      assigned: DataFrame, centroids: Array[Array[Double]],
      idCol: String, vecCol: String,
      query: Array[Double], k: Int, nProbe: Int): DataFrame = {
    val probes = probeCells(centroids, query, nProbe)
    val qCol = array(query.toIndexedSeq.map(lit): _*)
    val qNorm = math.sqrt(query.foldLeft(0.0)((acc, x) => acc + x * x))
    val v = col(vecCol)
    assigned
      .filter(col("_cell").isin(probes.toIndexedSeq: _*))
      .select(col(idCol), try_divide(dot(v, qCol), norm(v) * lit(qNorm)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540, public): candidate pairs share a coarse k-means
    * CELL rather than a static hyperplane bucket
    * ([[cosineNearDupPairs]]) — the cells are LEARNED from the data,
    * so on clustered corpora (real embedding spaces) they concentrate
    * true neighbors that fixed hyperplanes split across buckets, at
    * the cost of the quantizer fit. Verify is the same exact
    * unit-cosine ≥ threshold.
    *
    * Scale design: the self-join shuffles only (cell, id) pairs — the
    * wide vectors join back per side AFTER candidate generation. Each
    * vector has exactly ONE cell, so candidate pairs are unique (no
    * distinct stage at all, unlike the multi-table LSH shape). Verify
    * cost is O(Σ_cell n_c²): `centroids.length` is the scale lever —
    * fit k ≈ N/targetCellRows cells (SemDeDup's own regime; the paper
    * runs 10^4-10^5 clusters on web-scale corpora). `maxCellRows` is
    * the skew guard: a degenerate pile-up cell (duplicate-heavy
    * corpora collapse many vectors onto one point) is dropped from
    * pair enumeration instead of pinning one task with n_c² work —
    * route its members through exact dedup on the vector hash, the
    * same playbook as the minhash hot-bucket fallback.
    *
    * Takes STORED centroids (fit once via [[ivfIndex]], or reuse the
    * serving index's) — assignment is the deterministic
    * SQL-mirrorable argmin of [[assignCells]], so the whole operator
    * oracle-checks with the centroids injected as literals. */
  def semanticNearDupPairs(
      embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroids: Array[Array[Double]],
      maxCellRows: Long = 100000L): DataFrame =
    semanticNearDupPairsWithCleanup(embeddings, idCol, vecCol, threshold,
      centroids, maxCellRows)._1

  /** [[semanticNearDupPairs]] plus the unpersist hook (same contract
    * as [[cosineNearDupPairsWithCleanup]]): call it only after the
    * returned frame is materialized. */
  def semanticNearDupPairsWithCleanup(
      embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroids: Array[Array[Double]],
      maxCellRows: Long = 100000L): (DataFrame, () => Unit) = {
    require(centroids.nonEmpty, "need a fitted coarse quantizer")
    // cells are assigned on the RAW vectors (the space the quantizer
    // was fitted in); only the verify is on unit vectors. The argmin
    // tree is k·d literals wide — PERSIST the narrow (id, cell) result
    // so the plan carries it once, not once per self-join side + cap
    // count (3 evaluations of a 4096-literal expression cost more in
    // optimizer + codegen time than the whole pair stage at gate SF)
    val cells = assignCells(embeddings, vecCol, centroids)
      .select(col(idCol), col("_cell"))
      .persist(graft.ops.Caches.memoLevel(embeddings.sparkSession))
    val candidates = bucketCandidates(
      cells, Seq("_cell"), idCol,
      cells.groupBy(col("_cell")).agg(count(lit(1)).as("_cn")),
      "_cn", maxCellRows)
    val out = cosineVerify(
      candidates, unitVecsOf(embeddings, idCol, vecCol), idCol, threshold)
    (out, () => { cells.unpersist(); () })
  }

  /** Pre-normalized (id, _unit) projection: cosine of unit vectors is
    * one dot product, so the O(pairs) verify stage does one array fold
    * instead of three. Callers persist when the frame feeds multiple
    * passes. */
  private[graft] def unitVecsOf(
      embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    embeddings
      .select(col(idCol), v.as("_v"), norm(v).as("_n"))
      .select(col(idCol), transform(col("_v"), x => try_divide(x, col("_n"))).as("_unit"))
  }

  /** Shared candidate tail of the near-dup pair family: cap-prune the
    * bucket membership (PairBudget.capPrune picks the anti-broadcast/
    * semi shape by regime), self-join ids within each bucket. The
    * wide vector column never rides this quadratic stage. */
  private[graft] def bucketCandidates(
      members: DataFrame, keys: Seq[String], idCol: String,
      sizes: DataFrame, nCol: String, cap: Long): DataFrame = {
    val pruned = graft.ops.PairBudget.capPrune(members, sizes, nCol, keys, cap)
    pruned.select((keys.map(col) :+ col(idCol).as("id_a")): _*)
      .join(pruned.select((keys.map(col) :+ col(idCol).as("id_b")): _*), keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Shared verify tail: fetch each candidate side's unit vector and
    * keep pairs at exact cosine ≥ threshold — a change here changes
    * all four near-dup pair operators together (the bounded/unbounded
    * "under-budget ≡" contract cannot drift one-sided). */
  private[graft] def cosineVerify(
      candidates: DataFrame, unitVecs: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    candidates
      .join(unitVecs.select(col(idCol).as("id_a"), col("_unit").as("_va")), "id_a")
      .join(unitVecs.select(col(idCol).as("id_b"), col("_unit").as("_vb")), "id_b")
      .withColumn("cosine", dot(col("_va"), col("_vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))

  /** Near-dup pair detection over embeddings via multi-table sign-LSH
    * (mirrors `Dedup.minHashCandidatePairs`' banded shape): bucket
    * every vector in `numTables` independent hyperplane tables,
    * self-join ids on (table, bucket), dedup the candidate id pairs,
    * then fetch vectors and verify with exact cosine ≥ threshold.
    *
    * Recall math (random hyperplanes): two vectors at angle θ share a
    * bucket in one table with p = (1 - θ/π)^numPlanes; over T
    * independent tables P(candidate) = 1 - (1-p)^T. More planes cut
    * verify cost (≈½ the candidate pairs per extra plane) but lower
    * per-table recall; add tables to buy recall back. Candidates found
    * by T tables are a SUPERSET of those found by T-1 — recall is
    * monotone in numTables.
    *
    * Scale design: the self-join shuffles only (table, bucket, id)
    * triples — vectors are joined back AFTER the distinct, so the wide
    * embedding column never rides through the quadratic stage. Verify
    * cost is O(Σ_bucket n_b²): numPlanes is the scale lever — keep
    * 2^numPlanes ≫ N/targetBucketRows. Two guards enforce that:
    *  - `numPlanes >= minPlanes` (default 8 → ≥256 buckets/table):
    *    rejects configs whose bucket join degenerates toward all-pairs.
    *    Tests may pass a lower `minPlanes` EXPLICITLY.
    *  - `maxBucketRows`: (table, bucket) groups above the cap are
    *    dropped from candidate generation — a degenerate pile-up
    *    bucket would otherwise pin one task with n_b² work. A pair is
    *    lost only if EVERY table bucketed it into an oversized group;
    *    with ≥2 tables that chance is the product of per-table odds.
    *
    * Persist policy: the unit-vector frame is read three times
    * (banding pass + two vector fetches); it is persisted. Callers
    * owning a bounded lifetime should use
    * [[cosineNearDupPairsWithCleanup]] and call the hook after
    * materializing — this convenience form leaves the cache to the
    * session (LRU-evictable MEMORY_AND_DISK blocks).
    */
  def cosineNearDupPairs(
      embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double,
      numPlanes: Int = 10, numTables: Int = 2,
      maxBucketRows: Long = 100000L,
      minPlanes: Int = 8): DataFrame =
    cosineNearDupPairsWithCleanup(embeddings, idCol, vecCol, dim, threshold,
      numPlanes, numTables, maxBucketRows, minPlanes)._1

  /** [[cosineNearDupPairs]] plus a cleanup handle that unpersists the
    * unit-vector working set (same contract as Impute.plsWithCleanup):
    * call it ONLY after the returned frame is materialized — the plan
    * reads the cache three times at execution. */
  def cosineNearDupPairsWithCleanup(
      embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double,
      numPlanes: Int = 10, numTables: Int = 2,
      maxBucketRows: Long = 100000L,
      minPlanes: Int = 8): (DataFrame, () => Unit) = {
    require(numPlanes >= minPlanes,
      s"numPlanes=$numPlanes gives only ${1 << numPlanes} buckets/table — " +
        s"below the 2^$minPlanes scale floor; the bucket self-join would " +
        "degenerate toward all-pairs. Raise numPlanes (recoup recall with " +
        "numTables) or pass minPlanes explicitly for small-data tests.")
    require(numTables >= 1, "need at least one hash table")
    // Pre-normalize ONCE; the frame feeds the banding pass + two
    // verify fetches, so it is persisted.
    val unitVecs = unitVecsOf(embeddings, idCol, vecCol)
      .persist(graft.ops.Caches.memoLevel(embeddings.sparkSession))
    val banded = signLshTriples(unitVecs, idCol, dim, numPlanes, numTables)
    // hot-bucket guard: cap group size before the quadratic join;
    // distinct — a pair colliding in several tables verifies once
    val candidates = bucketCandidates(
      banded, Seq("_t", "_b"), idCol,
      banded.groupBy(col("_t"), col("_b")).agg(count(lit(1)).as("_bn")),
      "_bn", maxBucketRows)
      .distinct()
    val out = cosineVerify(candidates, unitVecs, idCol, threshold)
    (out, () => { unitVecs.unpersist(); () })
  }

  /** Narrow (id, table, bucket) triples of the multi-table sign-LSH —
    * signs are scale-invariant, so bucketing the unit vector equals
    * bucketing the raw vector. */
  private[graft] def signLshTriples(
      unitVecs: DataFrame, idCol: String,
      dim: Int, numPlanes: Int, numTables: Int): DataFrame = {
    val tableBuckets = (0 until numTables).map { t =>
      struct(lit(t).as("t"), signLshTableBucket(col("_unit"), dim, numPlanes, t).as("b"))
    }
    unitVecs
      .select(col(idCol), explode(array(tableBuckets: _*)).as("_tb"))
      .select(col(idCol), col("_tb.t").as("_t"), col("_tb.b").as("_b"))
  }

  /** [[cosineNearDupPairs]] under a global candidate-pair budget
    * (graft.ops.PairBudget — same degradation contract as
    * `Dedup.minHashCandidatePairsBounded`): (table, bucket) groups are
    * pair-enumerated smallest-first within `maxPairs` total
    * candidates; larger groups emit (id, rep_id) representative
    * clusters (candidate-level — members share an LSH bucket but
    * skipped the exact cosine verify). Under-budget ⇒ pairs equal
    * [[cosineNearDupPairs]] with the same `maxBucketRows`, clusters
    * empty — the prune and the representatives run only when the
    * budget decision binds ([[graft.ops.PairBudget.bounded]]). Returns
    * the effective cap for oracle replay; the cleanup hook unpersists
    * the unit-vector working set (call only after BOTH output frames
    * are materialized). */
  def cosineNearDupPairsBounded(
      embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double,
      numPlanes: Int = 10, numTables: Int = 2,
      maxBucketRows: Long = 100000L,
      minPlanes: Int = 8,
      maxPairs: Long = 10000000L): (graft.ops.BoundedPairs, () => Unit) = {
    require(numPlanes >= minPlanes,
      s"numPlanes=$numPlanes gives only ${1 << numPlanes} buckets/table — " +
        s"below the 2^$minPlanes scale floor (see cosineNearDupPairsWithCleanup)")
    require(numTables >= 1, "need at least one hash table")
    val unitVecs = unitVecsOf(embeddings, idCol, vecCol)
      .persist(graft.ops.Caches.memoLevel(embeddings.sparkSession))
    // persist the narrow (table, bucket, id) triples: the budget
    // histogram is a separate job before the pair plan, and the
    // triples feed the histogram, the pair join and, when the decision
    // binds, the representatives — without the cache each re-pays
    // numPlanes dot products per row per table
    val banded = signLshTriples(unitVecs, idCol, dim, numPlanes, numTables)
      .persist(graft.ops.Caches.memoLevel(embeddings.sparkSession))
    val sizes = banded.groupBy(col("_t"), col("_b")).agg(count(lit(1)).as("_bn"))
    val bounded = graft.ops.PairBudget.bounded(banded, idCol,
      graft.ops.PairBudget.sizeCap(sizes, "_bn", maxPairs), maxBucketRows,
      cap => cosineVerify(
        bucketCandidates(banded, Seq("_t", "_b"), idCol, sizes, "_bn", cap).distinct(),
        unitVecs, idCol, threshold),
      graft.ops.PairBudget.representatives(banded, Seq("_t", "_b"), idCol, _))
    (bounded, () => { banded.unpersist(); unitVecs.unpersist(); () })
  }

  /** [[semanticNearDupPairs]] under a global candidate-pair budget:
    * cells are pair-enumerated smallest-first within `maxPairs` total
    * candidates; larger cells emit (id, rep_id) representative
    * clusters (members quantize to the same coarse cell but skipped
    * the cosine verify — SemDeDup's own "keep one per tight cluster"
    * degenerate case). Under-budget ⇒ pairs equal
    * [[semanticNearDupPairs]] with the same `maxCellRows`, clusters
    * empty — the prune and the representatives run only when the
    * budget decision binds ([[graft.ops.PairBudget.bounded]]). The
    * cleanup hook unpersists the (id, cell) assignment (call only
    * after both output frames are materialized). */
  def semanticNearDupPairsBounded(
      embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroids: Array[Array[Double]],
      maxCellRows: Long = 100000L,
      maxPairs: Long = 10000000L): (graft.ops.BoundedPairs, () => Unit) = {
    require(centroids.nonEmpty, "need a fitted coarse quantizer")
    val cells = assignCells(embeddings, vecCol, centroids)
      .select(col(idCol), col("_cell"))
      .persist(graft.ops.Caches.memoLevel(embeddings.sparkSession))
    val sizes = cells.groupBy(col("_cell")).agg(count(lit(1)).as("_cn"))
    val bounded = graft.ops.PairBudget.bounded(cells, idCol,
      graft.ops.PairBudget.sizeCap(sizes, "_cn", maxPairs), maxCellRows,
      cap => cosineVerify(
        bucketCandidates(cells, Seq("_cell"), idCol, sizes, "_cn", cap),
        unitVecsOf(embeddings, idCol, vecCol), idCol, threshold),
      graft.ops.PairBudget.representatives(cells, Seq("_cell"), idCol, _))
    (bounded, () => { cells.unpersist(); () })
  }
}
