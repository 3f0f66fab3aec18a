package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextAnalysis}

/** End-to-end training-data curation (the north-star extension
  * surface as ONE composable pipeline): annotate → quality/language
  * gate → exact dedup → near-dup dedup (MinHash-LSH candidates +
  * signature-estimated Jaccard), keeping the lowest doc id of each
  * duplicate cluster.
  *
  * Plan shape at 100 TB: annotation is row-local (no shuffle); the
  * exact-dedup pass shuffles (digest, id) pairs; LSH shuffles
  * (band, hash, id) triples; the only joins against the full corpus
  * are left-anti by id. Documents' text never shuffles.
  */
object TrainingData {

  final case class CurationConfig(
      minQuality: Double = 0.3,
      langs: Set[String] = Set("en"),
      minTokens: Long = 5,
      minHashes: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3,
      nearDupJaccard: Double = 0.7,
      // hot-bucket cap for the LSH band join (Dedup.minHashCandidatePairs):
      // buckets above it skip pair enumeration and take the
      // exact-dedup-on-band-hash fallback instead — a mega duplicate
      // cluster is still deduped (keep min id per bucket), it just never
      // costs n² pairs
      maxBucketRows: Long = 100000L,
      // GLOBAL candidate-pair budget (ops.PairBudget): even with every
      // bucket under maxBucketRows, a dup-saturated corpus can emit
      // quadratically many candidates in aggregate; buckets above the
      // budget-derived size cap take the same representative-cluster
      // fallback as the hot-bucket cap, so the removal set stays
      // complete while pair enumeration stays bounded
      maxPairs: Long = 10000000L,
      // The annotated frame feeds the dedup semi-join (which reads it
      // twice), the signature build, the final anti-join, AND the
      // reasons breakdown — ~5 evaluations of the regex-heavy
      // annotation pass unless persisted. The caches live for the
      // session (MEMORY_AND_DISK blocks are LRU-evictable; callers
      // owning a bounded session can unpersist after materializing).
      // At warehouse scale swap the persist for a materialized stage
      // table.
      persistStages: Boolean = true)

  /** Row-local annotation: quality, language, token counts,
    * fingerprints. */
  def annotate(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), col(textCol))
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .withColumn("n_tokens", TextAnalysis.tokenCountWhitespace(col(textCol)))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))

  /** Full curation: returns the surviving documents with annotations
    * plus a `drop_reason` breakdown table (second element). */
  final case class Curated(kept: DataFrame, reasons: DataFrame, nearDupRemoved: DataFrame)

  def curate(
      docs: DataFrame, idCol: String, textCol: String,
      cfg: CurationConfig = CurationConfig()): (DataFrame, DataFrame) = {
    val c = curateFull(docs, idCol, textCol, cfg)
    (c.kept, c.reasons)
  }

  /** `curate` plus the near-dup removal set — the one stage whose ids
    * are not SQL-derivable (minhash); exposing them lets a harness
    * oracle the REST of the chain with the set injected as a literal. */
  def curateFull(
      docs: DataFrame, idCol: String, textCol: String,
      cfg: CurationConfig = CurationConfig()): Curated = {
    val ann0 = annotate(docs, idCol, textCol)
    val ann =
      if (cfg.persistStages)
        ann0.persist(graft.ops.Caches.memoLevel(docs.sparkSession))
      else ann0
    val gated = ann.filter(
      col("quality") >= cfg.minQuality &&
      col("lang_pred").isin(cfg.langs.toSeq: _*) &&
      col("n_tokens") >= cfg.minTokens)

    // exact dedup: keep the lowest id per content hash
    val keepExact = gated
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val exactDeduped = gated.join(keepExact, Seq(idCol), "left_semi")

    // near-dup dedup: LSH candidates → estimated jaccard → drop the
    // higher id of each confirmed pair.
    // The signature table is referenced by the band self-join AND both
    // jaccard sides — persist it (it's narrow: id + k longs, ~0.3 KB/doc)
    // or each reference recomputes the scan→gate→dedup→minhash chain.
    val sigs0 = Dedup.minHashSignatures(exactDeduped, idCol, textCol,
      cfg.minHashes, cfg.shingleSize)
    val sigs =
      if (cfg.persistStages)
        sigs0.persist(graft.ops.Caches.memoLevel(docs.sparkSession))
      else sigs0
    val bounded = Dedup.minHashCandidatePairsBounded(sigs, idCol,
      cfg.minHashes, cfg.bands, cfg.maxBucketRows, cfg.maxPairs)
    val pairDups = Dedup.minHashJaccard(bounded.pairs, sigs, idCol, cfg.minHashes)
      .filter(col("est_jaccard") >= cfg.nearDupJaccard)
      .select(col("id_b").as(idCol))
    // degraded-bucket fallback: members beyond the effective cap
    // (skew cap OR pair budget) share a whole band of minhashes —
    // dedup them as one representative cluster (drop everything but
    // the min id) instead of enumerating n² pairs. Same drop set as
    // the per-bucket min-keep formulation: an id survives iff it is
    // the min of EVERY degraded bucket it belongs to. The guards
    // never silently KEEP mega duplicate clusters; they change how
    // the clusters are collapsed.
    val bucketDups = bounded.clusters
      .filter(col(idCol) =!= col("rep_id"))
      .select(col(idCol))
    val nearDups = pairDups.unionByName(bucketDups).distinct()
    val kept = exactDeduped.join(nearDups, Seq(idCol), "left_anti")

    val reasons = ann
      .withColumn("drop_reason",
        when(col("quality") < cfg.minQuality, "low_quality")
          .when(!col("lang_pred").isin(cfg.langs.toSeq: _*), "language")
          .when(col("n_tokens") < cfg.minTokens, "too_short")
          .otherwise("kept_or_dedup"))
      .groupBy(col("drop_reason")).agg(count(lit(1)).as("n"))
    Curated(kept, reasons, nearDups)
  }

  /** Uniform-in-[0,1) draw from (seed, id) — pure row content, so the
    * accept set is identical across partitionings, cluster sizes, and
    * re-runs (unlike df.sample/sampleBy, whose rand(seed) streams are
    * positional per partition). md5-derived (top 60 bits → mod 1e6)
    * rather than xxhash64: integer-exact in ANY engine — DuckDB
    * replays it as CAST(CONCAT('0x', SUBSTR(md5(..), 1, 15)) AS
    * BIGINT) % 1000000, so sampling queries oracle-check. */
  private[graft] def hashUniform(idCol: String, seed: Long) =
    pmod(graft.functions.TextHashExpressions.md5Top60(
        concat_ws("|", lit(s"g$seed"), col(idCol).cast("string"))),
      lit(1000000L)).cast("double") / 1000000.0

  /** Deterministic training-order shuffle — the stage between packing
    * and the epoch writer: every row gets a seeded content-hash order
    * key (md5 top-60, the engine-portable hash family of
    * [[hashUniform]]) and `outCol` = its global 1-based position in
    * that order, via the bucketed distributed row number (NO
    * single-partition window — invariant 6). A writer shards the
    * epoch as floor((rank-1)/rowsPerShard); a new seed is a fresh
    * epoch permutation; identical (seed, ids) reproduce the identical
    * order on any partitioning/cluster size (unlike orderBy(rand)).
    * The 60-bit key space makes collisions negligible; `idCol` breaks
    * the residual ties deterministically. */
  def shuffleOrder(
      df: DataFrame, idCol: String, seed: Long,
      outCol: String = "shuffle_rank"): DataFrame =
    graft.ops.DistributedRank.rowNumber(
        df.withColumn("_sk",
          graft.functions.TextHashExpressions.md5Top60(
            concat_ws("|", lit(s"s$seed"), col(idCol).cast("string")))),
        "_sk", ascending = true, tieCols = Seq(idCol), outCol = outCol)
      .drop("_sk")

  /** Seeded per-stratum Bernoulli sample by content hash (e.g.
    * rebalance languages or sources to target rates). Row-local, no
    * shuffle, linear scan at any scale. Strata missing from
    * `fractions` are dropped (rate 0). */
  /** Per-key cost budget — the "at most N tokens per source" curation
    * stage: rows within each key get the seeded content-hash order of
    * [[shuffleOrder]] (so the kept subset is a deterministic uniform
    * pick, not ingestion-order biased), and survive while the running
    * cost stays within `budget`. One window PARTITIONED by the key —
    * state per key-group, linear at any scale, no global collapse.
    * Returns the kept rows plus `cum_cost` (inclusive running cost).
    * Costs are cast to long; the running sum is exact. */
  def budgetPerKey(
      df: DataFrame,
      keyCol: String,
      costCol: String,
      idCol: String,
      budget: Long,
      seed: Long): DataFrame = {
    val h = graft.functions.TextHashExpressions.md5Top60(
      concat_ws("|", lit(s"b$seed"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col("_bh").asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("_bh", h)
      .withColumn("cum_cost", sum(col(costCol).cast("long")).over(w))
      .filter(col("cum_cost") <= budget)
      .drop("_bh")
  }

  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      fractions: Map[String, Double],
      seed: Long): DataFrame = {
    val rate = fractions.foldLeft(lit(null).cast("double")) {
      case (acc, (k, v)) => when(col(strataCol) === lit(k), lit(v)).otherwise(acc)
    }
    df.filter(hashUniform(idCol, seed) < rate)
  }

  /** Weighted source mixing for a training corpus: sample each source
    * at its rate and union. Rates < 1 subsample; rates > 1 OVERSAMPLE
    * — every row appears floor(rate) times plus one more with
    * probability frac(rate) (epoch-style duplication). All draws are
    * content-hash deterministic; per-source seed offsets keep them
    * independent across sources. */
  def mixSources(sources: Seq[(DataFrame, Double)], idCol: String, seed: Long): DataFrame = {
    require(sources.nonEmpty, "mixSources needs at least one source")
    sources.zipWithIndex.map { case ((df, rate), i) =>
      require(rate >= 0, s"negative mix rate $rate")
      val whole = math.floor(rate).toLong
      val frac = rate - whole
      if (frac == 0.0 && whole == 1L) df // exact rate 1: pass through
      else {
        val copies = lit(whole) +
          when(hashUniform(idCol, seed + i) < lit(frac), 1L).otherwise(0L)
        df.withColumn("_copies", copies)
          .filter(col("_copies") > 0)
          .withColumn("_dup", explode(sequence(lit(1L), col("_copies"))))
          .drop("_copies", "_dup")
      }
    }.reduce(_ unionByName _)
  }

  /** Materialize [[packSequences]]' bins into actual training
    * sequences: one row per bin with the member documents'
    * concatenated text (in stream order) plus bookkeeping. One keyed
    * groupBy(bin); per-bin state is bounded by the token target (a bin
    * holds ~targetTokens tokens of text — zero-token members are the
    * only unbounded corner, gate them upstream). Ordering inside the
    * bin is (bin_offset, orderCol) — deterministic, SQL-replayable via
    * string_agg ORDER BY. */
  def packBins(
      packed: DataFrame, orderCol: String, textCol: String, tokenCol: String): DataFrame =
    packed
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokenCol)).as("bin_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(
              col("bin_offset"), col(orderCol), col(textCol).as("t")))),
            x => x.getField("t")),
          " ").as("seq_text"))

  /** Deterministic SEQUENCE PACKING for LLM training: documents are
    * conceptually concatenated in `orderCol` order into one token
    * stream, and the stream is cut every `targetTokens` tokens; each
    * document is assigned the bin its FIRST token falls in, plus its
    * offset within that bin (the contiguous-stream packing used by
    * fixed-length training pipelines — a doc longer than the target
    * spills into following bins at read time).
    *
    * The global token cumsum is the ONLY cross-row dependency and runs
    * as the two-level bucketed stitch ([[graft.ops.DistributedRank
    * .cumulativeSum]]) — exact long arithmetic, no single-partition
    * window, scales like every other rank operator here. bin/offset
    * derive from the EXCLUSIVE cumsum with pure integer arithmetic
    * ((cb − cb mod T)/T is an exact multiple — no float-floor hazard),
    * so the assignment replays bit-exactly in any engine.
    *
    * Output: input columns + `bin`, `bin_offset`. */
  def packSequences(
      docs: DataFrame,
      orderCol: String,
      tokenCol: String,
      targetTokens: Long): DataFrame = {
    require(targetTokens > 0, "targetTokens must be positive")
    val t = lit(targetTokens)
    graft.ops.DistributedRank.cumulativeSum(docs, orderCol, tokenCol, "_cs")
      .withColumn("_cb", col("_cs") - col(tokenCol).cast("long"))
      .withColumn("bin",
        ((col("_cb") - col("_cb") % t).cast("double") / t.cast("double")).cast("long"))
      .withColumn("bin_offset", (col("_cb") % t).cast("long"))
      .drop("_cs", "_cb")
  }
}
