package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{BoundedPairs, PairBudget}

/** Deduplication operators for large-scale text corpora (north-star
  * extension surface, BASELINE.json). All formulations are
  * shuffle-minimal: signatures are computed in one narrow pass per
  * document; candidate generation shuffles only (band, signature)
  * pairs, never full texts.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per content hash. One hash-groupBy
    * shuffle on the 128-bit digest (uniform keys — no skew at 100 TB);
    * only (digest, id) pairs shuffle, not the documents. */
  def exactByContent(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(col(textCol).cast("binary")).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles as an array column (distinct). For n >= 2
    * this is the codegen'd one-pass WordShinglesExpr — the equivalent
    * HOF chain (transform + slice + concat_ws + filter + distinct)
    * copies O(words·n) elements per row through interpreted lambdas.
    * Values are identical (spec-asserted). */
  def wordShingles(text: Column, n: Int): Column =
    if (n == 1) array_distinct(split(text, " "))
    else graft.functions.TextHashExpressions.wordShingles(text, n)

  /** MinHash signature: k independent min-hashes over the shingle set.
    * hash_i(s) = (a_i·md5Top60(s) + b_i) mod 2⁶¹−1 — a universal hash
    * family over an engine-portable base hash, so signatures are
    * replayable by DuckDB (md5 hex prefix + HUGEINT arithmetic) and
    * the whole dedup family oracle-checks. One md5 per shingle + k
    * multiplies also beats k full xxhash64 string passes.
    *
    * Entirely ROW-LOCAL: the shingle array is materialized once per
    * document and all k minima come from ONE pass over it via the
    * codegen'd MinHashArray expression (the equivalent per-slot
    * `array_min(transform(...))` higher-order chains are
    * CodegenFallback and materialize k intermediate arrays per row) —
    * zero shuffles, embarrassingly parallel at any scale (an explode +
    * groupBy formulation would shuffle every shingle). */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, shingleSize: Int = 3): DataFrame = {
    val sig = graft.functions.TextHashExpressions.minHashArray(
      wordShingles(col(textCol), shingleSize), numHashes)
    df.select(col(idCol), sig.as("_sig"))
      .select((col(idCol) +:
        (0 until numHashes).map(i => col("_sig").getItem(i).as(s"mh_$i"))): _*)
  }

  /** Exactly the texts whose [[minHashSignatures]] are non-null: at
    * least `shingleSize` words under the shingler's own split. Filter
    * the documents with it instead of the signatures on `mh_0`: the
    * optimizer pushes an `mh_0` filter beneath the projection, where
    * it evaluates the minhash kernel a second time per row. */
  def hasShingles(text: Column, shingleSize: Int = 3): Column =
    text.isNotNull && size(split(text, " ")) >= shingleSize

  /** LSH banding over minhash signatures → candidate near-dup pairs.
    * Signatures are split into `bands` bands of `rows` hashes; docs
    * sharing any band-hash become candidates (classic MinHash-LSH:
    * P(candidate) = 1-(1-j^rows)^bands). The band join shuffles only
    * (band_idx, band_hash, id) triples.
    *
    * The equi-join key is uniform for DISTINCT content, but near-dup
    * CLUSTERS — the very thing this operator hunts (boilerplate pages,
    * templated spam) — all share band hashes: an m-member cluster puts
    * m² candidate pairs in one (band_idx, band_hash) bucket, so at
    * 100 TB a 1M-member cluster means 10¹² pairs in one task. The
    * `maxBucketRows` guard (same pattern as
    * Similarity.cosineNearDupPairs) counts each bucket BEFORE the
    * quadratic join and drops oversized ones via a left_semi prune —
    * an aggregate-only pre-pass, no extra data shuffle of the banded
    * triples (they re-shuffle on the same key either way, and AQE
    * reuses the exchange). Members of a dropped bucket are near-
    * identical by construction; [[minHashCandidatePairsBounded]]
    * returns them as representative clusters instead of dropping them
    * silently. */
  def minHashCandidatePairs(
      signatures: DataFrame, idCol: String,
      numHashes: Int = 32, bands: Int = 8,
      maxBucketRows: Long = 100000L): DataFrame = {
    val banded = bandedTriples(signatures, idCol, numHashes, bands)
    bandPairJoin(banded, idCol, maxBucketRows)
  }

  /** [[minHashCandidatePairs]] under a GLOBAL candidate-pair budget
    * (graft.ops.PairBudget): the per-bucket `maxBucketRows` bounds
    * skew but not the aggregate Σn² output, which is what blows up on
    * a dup-saturated corpus (every doc in a 100-copy clique → ~50·N
    * candidate pairs). Buckets are enumerated smallest-first up to
    * `maxPairs` total candidates; larger buckets degrade to
    * representative clusters (min id per bucket: the members of an
    * oversized bucket are near-identical). On an
    * under-budget corpus this is EXACTLY [[minHashCandidatePairs]]
    * with empty clusters. The prune and the representatives run only
    * when the one budget decision binds ([[PairBudget.bounded]]): with
    * every bucket within the effective cap the band join is unpruned
    * and the clusters frame is empty by plan, not by execution. */
  def minHashCandidatePairsBounded(
      signatures: DataFrame, idCol: String,
      numHashes: Int = 32, bands: Int = 8,
      maxBucketRows: Long = 100000L,
      maxPairs: Long = 10000000L): BoundedPairs = {
    // persist the narrow (band, hash, id) triples: the budget decision
    // is a SEPARATE driver job (histogram collect) before the pair
    // plan, so without the cache the signature computation would run
    // once for the histogram and again for the join (and, when the
    // decision binds, the representatives; AQE reuses exchanges within
    // one plan, not across jobs). ~24 B/(doc·band), MEMORY_AND_DISK,
    // session-lifetime LRU — the same policy as the curate pipeline's
    // signature cache.
    val banded = bandedTriples(signatures, idCol, numHashes, bands)
      .persist(graft.ops.Caches.memoLevel(signatures.sparkSession))
    PairBudget.bounded(banded, idCol,
      PairBudget.sizeCap(bucketCounts(banded), "_bn", maxPairs), maxBucketRows,
      bandPairJoin(banded, idCol, _),
      PairBudget.representatives(banded, Seq("band_idx", "band_hash"), idCol, _),
      () => { banded.unpersist(); () })
  }

  /** Bucket-capped candidate self-join over (band_idx, band_hash)
    * membership triples — the shared tail of the capped and budgeted
    * forms. */
  private[graft] def bandPairJoin(
      banded: DataFrame, idCol: String, maxBucketRows: Long): DataFrame = {
    // hot-bucket guard: cap group size before the quadratic self-join
    // (PairBudget.capPrune picks anti-broadcast vs semi by regime —
    // the anti form is what makes the self-join AQE-skew-splittable)
    val pruned = PairBudget.capPrune(banded, bucketCounts(banded), "_bn",
      Seq("band_idx", "band_hash"), maxBucketRows)
    val l = pruned.withColumnRenamed(idCol, "id_a")
    val r = pruned.withColumnRenamed(idCol, "id_b")
    l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** The LSH band keys of a signature row, one per band: band b is the
    * xxhash64 of minhash slots [b·rows, (b+1)·rows). */
  private[graft] def bandHashes(numHashes: Int, bands: Int): Seq[Column] = {
    val rows = numHashes / bands
    (0 until bands).map(b => xxhash64((b * rows until (b + 1) * rows).map(i => col(s"mh_$i")): _*))
  }

  private[graft] def bandedTriples(
      signatures: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val bandCols = bandHashes(numHashes, bands).zipWithIndex.map { case (h, b) =>
      struct(lit(b).as("band_idx"), h.as("band_hash"))
    }
    signatures
      .select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
  }

  private[graft] def bucketCounts(banded: DataFrame): DataFrame =
    banded.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("_bn"))

  /** Estimated jaccard from signatures for candidate pairs: fraction of
    * agreeing minhashes. */
  def minHashJaccard(
      candidates: DataFrame, signatures: DataFrame, idCol: String,
      numHashes: Int = 32): DataFrame = {
    val sigA = signatures.toDF(signatures.columns.map(c =>
      if (c == idCol) "id_a" else s"a_$c").toIndexedSeq: _*)
    val sigB = signatures.toDF(signatures.columns.map(c =>
      if (c == idCol) "id_b" else s"b_$c").toIndexedSeq: _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    candidates.join(sigA, "id_a").join(sigB, "id_b")
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / numHashes).as("est_jaccard"))
  }

  /** 60-bit SimHash per document: sign-sum of token-hash bits, packed
    * into a non-negative long. 60 bits because the base hash is
    * md5Top60 (the digest prefix an external engine can parse) — the
    * packed value is SQL-replayable bit for bit.
    *
    * ROW-LOCAL like minHashSignatures, and like it a single codegen'd
    * pass (graft.functions.SimHash60) — the per-bit aggregate() chains
    * it replaces were CodegenFallback evaluations per row. Zero
    * shuffles. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.TextHashExpressions.simHash60(split(col(textCol), " "))
        .as("simhash"))

  /** SimHash near-dup candidate pairs by the pigeonhole block join:
    * split each hash into `blocks` bit-blocks — two hashes within
    * hamming distance < `blocks` MUST share at least one block — then
    * equi-join on (block_idx, block_value) and verify with the exact
    * popcount of the XOR. Shuffles only (block, id, hash) triples;
    * never compares all pairs. Classic simhash dedup (Manku et al.,
    * WWW'07 — public algorithm). */
  def simHashNearDupPairs(
      sims: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3, blocks: Int = 4): DataFrame = {
    require(maxHamming < blocks,
      s"pigeonhole needs maxHamming < blocks ($maxHamming >= $blocks)")
    simHashPairJoin(
      simHashBlocked(sims, idCol, simhashCol, blocks),
      idCol, simhashCol, maxHamming, Long.MaxValue)
  }

  /** [[simHashNearDupPairs]] under a global candidate-pair budget plus
    * a per-bucket skew cap (neither exists in the unbounded form —
    * its block join enumerates every bucket). Same degradation
    * contract as [[minHashCandidatePairsBounded]]: blocks are
    * enumerated smallest-first within `maxPairs` total candidates;
    * over-cap blocks emit (id, rep_id) representative clusters —
    * candidate-level, i.e. members share a simhash bit-block but
    * skipped the exact popcount verify. Under-budget ⇒ pairs equal the
    * unbounded form, clusters empty; as there, the prune and the
    * representatives run only when the budget decision binds. */
  def simHashNearDupPairsBounded(
      sims: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3, blocks: Int = 4,
      maxBucketRows: Long = 100000L,
      maxPairs: Long = 10000000L): BoundedPairs = {
    require(maxHamming < blocks,
      s"pigeonhole needs maxHamming < blocks ($maxHamming >= $blocks)")
    // persist: see minHashCandidatePairsBounded — the histogram job
    // precedes the pair plan, and the cached triples also serve the
    // representatives pass when the decision binds
    val blocked = simHashBlocked(sims, idCol, simhashCol, blocks)
      .persist(graft.ops.Caches.memoLevel(sims.sparkSession))
    val sizes = blocked.groupBy(col("block_idx"), col("block_val"))
      .agg(count(lit(1)).as("_bn"))
    PairBudget.bounded(blocked, idCol,
      PairBudget.sizeCap(sizes, "_bn", maxPairs), maxBucketRows,
      simHashPairJoin(blocked, idCol, simhashCol, maxHamming, _),
      PairBudget.representatives(blocked, Seq("block_idx", "block_val"), idCol, _),
      () => { blocked.unpersist(); () })
  }

  /** (id, simhash, block_idx, block_val) membership rows — one per
    * bit-block per doc. */
  private[graft] def simHashBlocked(
      sims: DataFrame, idCol: String, simhashCol: String, blocks: Int): DataFrame = {
    val blockBits = 60 / blocks // 60-bit simhash (md5Top60 base)
    val mask = (1L << blockBits) - 1
    val blockStructs = (0 until blocks).map(b => struct(
      lit(b).as("block_idx"),
      shiftright(col(simhashCol), b * blockBits).bitwiseAND(lit(mask)).as("block_val")))
    sims
      .select(col(idCol), col(simhashCol), explode(array(blockStructs: _*)).as("_blk"))
      .select(col(idCol), col(simhashCol),
        col("_blk.block_idx").as("block_idx"), col("_blk.block_val").as("block_val"))
  }

  private[graft] def simHashPairJoin(
      blocked: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int, maxBucketRows: Long): DataFrame = {
    val pruned = PairBudget.capPrune(
      blocked,
      blocked.groupBy(col("block_idx"), col("block_val"))
        .agg(count(lit(1)).as("_bn")),
      "_bn", Seq("block_idx", "block_val"), maxBucketRows)
    val l = pruned.select(col("block_idx"), col("block_val"),
      col(idCol).as("id_a"), col(simhashCol).as("_ha"))
    val r = pruned.select(col("block_idx"), col("block_val"),
      col(idCol).as("id_b"), col(simhashCol).as("_hb"))
    l.join(r, Seq("block_idx", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over near-dup PAIRS → canonical clusters:
    * every doc labeled with the MIN id of its component. Pairs are
    * transitively inconsistent on their own (a~b, b~c says nothing
    * about a,c); cluster ids are what a real pipeline keeps/reports.
    *
    * Min-label propagation WITH POINTER JUMPING: each round a vertex
    * takes the min of (its label, its neighbors' labels, its label's
    * label). The neighbor step alone converges in O(component
    * diameter) rounds — a chain-shaped near-dup component turns that
    * into hundreds of Spark jobs (exactly what the first cut of this
    * operator did at sf0.1: 1138s). The label-of-label step halves
    * remaining distances every round (labels are vertex ids, so the
    * lookup is a self-join), giving O(log diameter) rounds — the
    * standard hash-to-min style scheme. Each round is two keyed joins
    * + one aggregate over narrow (id, label) pairs; the driver loop
    * stops at the fixpoint (min id per component — unique regardless
    * of schedule, which is what makes it oracle-checkable against a
    * recursive closure). */
  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, checkpointDir)._1

  /** [[connectedComponents]] plus the number of propagation rounds the
    * driver loop ran (fixpoint detection included). Exposed so the
    * O(log diameter) convergence claim is TESTABLE — DedupSpec's
    * property test locks a diameter-D path graph to ≤ ⌈log₂D⌉+2
    * rounds, so an edit that silently drops the pointer-jump step
    * (reverting to O(D) neighbor propagation) fails loudly.
    *
    * Fault tolerance: with `checkpointDir = None` (the default) rounds
    * truncate their plans via `localCheckpoint(true)`, which pins the
    * materialized blocks to executors — fastest, right for local/test
    * runs, but on a real cluster losing ONE executor mid-fixpoint
    * loses blocks with no lineage to rebuild them and kills the job
    * (at 100 TB, round 40 of 50 is exactly when an executor dies).
    * Pass `Some(dir)` on a fault-tolerant filesystem (HDFS/object
    * store) to use RELIABLE `checkpoint()` instead: each round's
    * labels are written to `dir`, survive executor loss, and the loop
    * resumes from the last completed round's files. The price is one
    * FS write+read of the narrow (id, cluster) table per round —
    * O(rounds · |V|) bytes, bounded and flat. Intermediate round files
    * accumulate under `dir` until context stop (set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to let
    * the ContextCleaner reclaim superseded rounds). */
  def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None,
      pointerJumps: Int = 1): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(graft.ops.Caches.memoLevel(spark))
    // plan truncation each round: persist alone caches DATA but the
    // logical plan still nests the whole previous round — with the
    // pointer-jump self-join referencing `step` twice, plan size (and
    // Catalyst's re-optimization work) grows ~3× per round, which is
    // exactly how the first cut of this loop ate the driver heap.
    // Checkpointing truncates the plan to the materialized partitions,
    // so every round plans against a constant-size leaf.
    //
    // Round-0 fusion (r16, guide §2.4): the identity labeling's first
    // neighbor round is `min(id, min(neighbors))` — computable as ONE
    // aggregation over the symmetric edge list (every vertex appears
    // as a src). That replaces the old verts-distinct shuffle + an
    // identity checkpoint + the first round's edges-scale join with a
    // single groupBy: one fewer full pass over the edge table AND
    // (usually) one fewer driver-loop round. Same unique fixpoint —
    // min label per component is schedule-independent.
    var labels = truncate(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_nl"))
      .select(col("src").as("id"),
        least(col("src"), col("_nl")).as("cluster")))
    // the checkpointed frame whose blocks back `labels` — freed once
    // the NEXT round's checkpoint is materialized. Without this the
    // loop accumulates O(rounds) block-manager scratch: a local
    // checkpoint's blocks live until driver GC + ContextCleaner reach
    // the dropped reference, which on a big fixture is never soon
    // enough (sf100: the clusters route exhausted the local disk while
    // the pairs route alone fit).
    var prevCkpt = labels
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nm = edges.join(labels.select(col("id").as("dst"), col("cluster")), "dst")
        .groupBy(col("src")).agg(min(col("cluster")).as("_nl"))
      // _prev rides through the round so the fixpoint check below is a
      // filter over the already-checkpointed frame — no extra join
      // against the previous labels (one fewer exchange per round)
      // read twice by the jump self-join below → truncated first
      val step = truncate(labels
        .join(nm.select(col("src").as("id"), col("_nl")), Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("_nl"), col("cluster"))).as("cluster"),
          col("cluster").as("_prev")))
      // pointer jumps: follow the label to ITS label (labels are
      // vertex ids, so each is a labels-scale self-join) — every jump
      // halves remaining label-chain depth. `pointerJumps` is a lever,
      // DEFAULT 1: measured on the simhash near-dup graph (r17), a
      // second jump does NOT cut the round count — convergence there
      // is edge-hop-limited (the min label flows one edge hop per
      // neighbor round; label chains are already shallow), so the
      // extra self-join is pure added work. The fixpoint is unchanged
      // for any jump count: jumps only propagate existing labels
      // monotonically toward the component min, which is
      // schedule-independent.
      var jumped = step
      for (_ <- 1 to math.max(1, pointerJumps)) {
        val j = truncate(jumped
          .join(jumped.select(col("id").as("_lid"), col("cluster").as("_lc")),
            col("cluster") === col("_lid"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("_lc"), col("cluster"))).as("cluster"),
            col("_prev")))
        // the intermediate jump's blocks are superseded immediately;
        // `step` itself is freed below with the round's other scratch
        if (!(jumped eq step))
          org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(jumped)
        jumped = j
      }
      val next = jumped
      val changed = next.filter(col("cluster") =!= col("_prev")).limit(1).count()
      // `next` is materialized with no lineage into the superseded
      // round — free its scratch now (never the frame being returned)
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(step)
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(prevCkpt)
      prevCkpt = next
      labels = next.select(col("id"), col("cluster"))
      done = changed == 0L
      iter += 1
    }
    edges.unpersist()
    (labels, iter)
  }

  /** Benchmark decontamination: per corpus document, the number of
    * distinct word n-grams shared with ANY probe (benchmark/test-set)
    * document. The probe side is small — its distinct shingle hashes
    * BROADCAST, so corpus text never shuffles: row-local shingling →
    * broadcast hash join → groupBy over only the matching (id, hash)
    * pairs. Filter `n_shared_ngrams >= k` downstream to drop
    * contaminated training documents. */
  def contaminationScores(
      corpus: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val probeGrams = probe
      .select(explode(wordShingles(col(textCol), n)).as("_g"))
      .select(xxhash64(col("_g")).as("_gh")).distinct()
    corpus
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("_g"))
      .select(col(idCol), xxhash64(col("_g")).as("_gh"))
      .join(broadcast(probeGrams), Seq("_gh"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("_gh")).as("n_shared_ngrams"))
  }

  /** Exact word-set Jaccard for given candidate pairs (verification
    * stage after blocking): explode distinct words once, self-join on
    * word within pairs. `pairs` must be pre-blocked (LSH/banding) —
    * this never computes all-pairs.
    *
    * The corpus is left_semi-pruned against the candidate-member id
    * set BEFORE the word explode: candidates from a blocking stage
    * typically cover a small fraction of docs, and without the prune
    * the ENTIRE exploded corpus (one row per distinct word per doc)
    * would shuffle through the intersection join just to be dropped.
    * The member set is distilled from the pre-blocked `pairs` (small),
    * so the semi join broadcasts and the scan stays narrow. */
  def wordJaccard(
      df: DataFrame, pairs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one pass over pairs for the member set (explode, not a
    // union-of-two-selects — the candidate join behind `pairs` is
    // re-executed once per consumer, so every saved consumer is a
    // saved band self-join)
    val memberIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    val words = df.join(memberIds, Seq(idCol), "left_semi")
      .select(col(idCol),
        explode(array_distinct(split(col(textCol), " "))).as("_w"))
    // |distinct words| is row-local — size(array_distinct(split)) —
    // so the sizes branch never explodes or shuffles words at all
    // (before: a third full recompute of `words` plus a corpus-wide
    // groupBy exchange). The isNotNull filter reproduces the exploded
    // form's semantics: a null text produced no rows, so the member
    // doc fell out of the final inner join rather than surfacing a
    // null size.
    val sizes = df.join(memberIds, Seq(idCol), "left_semi")
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(array_distinct(split(col(textCol), " "))).cast("long").as("_sz"))
    val wA = words.select(col(idCol).as("id_a"), col("_w"))
    val wB = words.select(col(idCol).as("id_b"), col("_w"))
    val inter = pairs.join(wA, "id_a").join(wB, Seq("id_b", "_w"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.withColumnsRenamed(Map(idCol -> "id_a", "_sz" -> "_sza")), "id_a")
      .join(sizes.withColumnsRenamed(Map(idCol -> "id_b", "_sz" -> "_szb")), "id_b")
      .select(col("id_a"), col("id_b"),
        try_divide(coalesce(col("_inter"), lit(0L)).cast("double"),
          (col("_sza") + col("_szb") - coalesce(col("_inter"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** Exact shared-SUBSTRING near-dup pairs (the "exact substring
    * dedup" of Lee et al. 2022, Deduplicating Training Data Makes
    * Language Models Better — re-expressed relationally): emit
    * (doc_a, doc_b, n_shared) for document pairs sharing >= `minShared`
    * winnowing-SELECTED k-character grams. The winnowing guarantee
    * (Schleimer/Wilkerson/Aiken 2003) makes recall structural: ANY
    * shared span of length >= k+w-1 characters contains at least one
    * selected gram in both documents, so long verbatim overlaps —
    * boilerplate, quoted passages, copy-paste — cannot escape, while
    * only ~1/w of grams ever leave the row.
    *
    * Scale shape: the per-doc selection is ONE codegen'd pass
    * (WinnowingGramsExpr, distinct grams per doc); only (id, gram)
    * pairs shuffle. The skew bomb — stop-grams appearing in half the
    * corpus — is removed by a DOCUMENT-FREQUENCY cap before the pair
    * join: grams in more than `maxDocFreq` docs are dropped (count +
    * left_semi prune, never a collect_list of a hot key), bounding
    * per-gram pair fanout at maxDocFreq². Unlike a per-task hot-bucket
    * cap, the df cap is a pure function of the data — an external SQL
    * engine replays it exactly (HAVING COUNT(*) <= cap), so the whole
    * operator is oracle-checkable bit for bit. Candidate = verified in
    * one step: the join key IS the substring (equal gram = equal
    * text), no second verification join over the wide text column. */
  /** Gram-hash mode for the winnowing selection. Two kernels, one
    * guarantee: `rolling = false` hashes each k-gram with md5 — the
    * ORACLE mode, because an external SQL engine replays the selected
    * set exactly (HAVING over md5-hash minima) — while `rolling =
    * true` uses a rolling Karp-Rabin polynomial (the standard MOSS
    * construction): O(1) per gram instead of a digest round, ~5-10×
    * less CPU over a 100 TB corpus, but no SQL image. The winnowing
    * recall guarantee (any shared span ≥ k+w−1 selects a common gram
    * in both documents) is hash-agnostic, so which PAIRS are
    * detectable never depends on the mode — only the selected-gram
    * detail does (DedupSpec property tests pin both claims).
    *
    * Resolution order: explicit argument > `graft.gramhash` system
    * property > `SPARK_GRAFT_GRAMHASH` env ("md5" | "rolling") >
    * rolling. graft.Verify pins the property to "md5" so the driver's
    * DuckDB hash gate always sees the replayable kernel; everything
    * else (Bench included) gets the production kernel. */
  def defaultRollingHash: Boolean =
    sys.props.get("graft.gramhash")
      .orElse(sys.env.get("SPARK_GRAFT_GRAMHASH"))
      .getOrElse("rolling") != "md5"

  def sharedSpanPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 12,
      w: Int = 4,
      maxDocFreq: Long = 64L,
      minShared: Long = 2L): DataFrame =
    sharedSpanPairs(df, idCol, textCol, k, w, maxDocFreq, minShared, defaultRollingHash)

  def sharedSpanPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      maxDocFreq: Long,
      minShared: Long,
      rollingHash: Boolean): DataFrame = {
    val sel = selectedGrams(df, idCol, textCol, k, w, rollingHash)
    spanPairJoin(sel, gramDocFreq(sel), maxDocFreq, minShared)
  }

  /** [[sharedSpanPairs]] with the family's global pair-output budget
    * (graft.ops.PairBudget): the df cap bounds per-GRAM fanout but not
    * the aggregate Σ df·(df−1)/2 across grams — a boilerplate-heavy
    * corpus can stay under maxDocFreq per gram and still emit
    * quadratically many pairs in total. The budget derives the largest
    * df cap `t` whose under-t grams contribute ≤ `maxPairs` candidate
    * pairs; grams with t < df ≤ maxDocFreq degrade to (id, rep_id)
    * representative clusters (linear), and grams over maxDocFreq stay
    * DROPPED (stop-grams are boilerplate noise, not duplicate
    * evidence — same semantics as the unbounded form). Under-budget ≡
    * unbounded; sizeCap is deterministic and oracle-replayable. The
    * histogram holds only the df ≤ maxDocFreq grams, so the budget
    * decision binds only when the budget itself does; otherwise the
    * pair join reads the df-capped grams unpruned and the clusters are
    * empty by plan ([[graft.ops.PairBudget.bounded]]). */
  def sharedSpanPairsBounded(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 12,
      w: Int = 4,
      maxDocFreq: Long = 64L,
      minShared: Long = 2L,
      maxPairs: Long = 10000000L,
      rollingHash: Boolean = defaultRollingHash): graft.ops.BoundedPairs = {
    // persist the narrow (id, gram) selection: the budget decision is
    // a separate driver job (histogram collect) before the pair plan
    val sel = selectedGrams(df, idCol, textCol, k, w, rollingHash)
      .persist(graft.ops.Caches.memoLevel(df.sparkSession))
    // ALSO persist the per-gram doc-freq histogram: it is the single
    // most expensive node in the family (a ~corpus-sized exchange of
    // gram keys — 83 s at sf10 vs 11 s for the selection scan itself)
    // and every downstream consumer re-derives it (the budget collect,
    // the informative semi-join, and when the decision binds capPrune
    // inside the pair join and the representatives job — and
    // q_shared_span_pairs' own plan, which Spark's CacheManager
    // substitutes from this cache because the analyzed fragment is
    // identical). Before this persist the histogram was recomputed
    // 1-2x PER QUERY at full price; the budget collect below
    // materializes both caches once, inside the one-time build the
    // warmup policy already accounts for.
    val sizes = gramDocFreq(sel)
      .persist(graft.ops.Caches.memoLevel(df.sparkSession))
    val informative = sel.join(
      sizes.filter(col("_df") <= maxDocFreq).select(col("_gram")),
      Seq("_gram"), "left_semi")
    graft.ops.PairBudget.bounded(informative, idCol,
      graft.ops.PairBudget.sizeCap(
        sizes.filter(col("_df") <= maxDocFreq), "_df", maxPairs), maxDocFreq,
      spanPairJoin(informative, sizes, _, minShared),
      // the persisted histogram already knows the over-cap gram set
      // (`informative` holds exactly the df ≤ maxDocFreq grams, so
      // over-cap within it = cap < df ≤ maxDocFreq) — pass it instead
      // of letting the generic form re-aggregate the corpus-scale
      // membership stream (sf100 disk-exhaustion fix)
      cap => graft.ops.PairBudget.representativesWith(informative, Seq("_gram"), idCol,
        sizes.filter(col("_df") <= maxDocFreq && col("_df") > cap)
          .select(col("_gram"))),
      () => { sizes.unpersist(); sel.unpersist(); () })
  }

  /** One codegen'd pass per doc: DISTINCT winnowing-selected k-gram
    * substrings, exploded to narrow (id, gram) rows — the only shape
    * that ever shuffles; the wide text column dies in the projection. */
  /** The per-doc selection, mode-shaped for its consumer: md5 mode
    * emits the selected gram SUBSTRINGS (the oracle contract — equal
    * gram = equal text, candidate = verified, SQL-replayable);
    * rolling mode emits the selected grams' 60-bit FINGERPRINTS
    * (= the window-minima set: a gram is selected iff its hash is a
    * minimum, so the distinct selected-hash set IS the fingerprint
    * set). The fingerprint route is the classic MOSS join — only
    * (id, long) ever shuffles, no gram string is even MATERIALIZED
    * per row — at the cost of exactness up to 60-bit collisions:
    * a false shared-span pair needs `minShared` independent
    * collisions against a ~2⁻⁶⁰ per-gram rate, far below the noise
    * floor of any dedup decision. Everything downstream (df cap,
    * budget histogram, pair join, representatives) is agnostic to
    * the key's type. */
  private[graft] def selectedGrams(
      df: DataFrame, idCol: String, textCol: String, k: Int, w: Int,
      rollingHash: Boolean): DataFrame =
    if (rollingHash)
      df.select(
        col(idCol),
        explode(graft.functions.TextHashExpressions.winnowing(
          col(textCol), k, w, rolling = true)).as("_gram"))
    else
      df.select(
        col(idCol),
        explode(graft.functions.TextHashExpressions.winnowingGrams(
          col(textCol), k, w)).as("_gram"))

  private[graft] def gramDocFreq(sel: DataFrame): DataFrame =
    sel.groupBy(col("_gram")).agg(count(lit(1)).as("_df"))

  /** Shared tail of the capped and budgeted span-pair forms: df-cap
    * prune (PairBudget.capPrune picks anti-broadcast vs semi by
    * regime), equi-self-join on the gram string, shared-gram count. */
  private[graft] def spanPairJoin(
      sel: DataFrame, sizes: DataFrame, cap: Long, minShared: Long): DataFrame = {
    val pruned = graft.ops.PairBudget.capPrune(
      sel, sizes, "_df", Seq("_gram"), cap)
    val idCol = pruned.columns.filter(_ != "_gram").head
    pruned.as("a")
      .join(pruned.as("b"),
        col("a._gram") === col("b._gram") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
