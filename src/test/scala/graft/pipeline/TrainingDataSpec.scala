package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  private val good = "the quick brown fox jumps over the lazy dog and runs to the river bank"
  private val nearDupOfGood = good.replace("today", "tonight") + " now"
  private val junk = "!!!" * 20
  private val short = "the cat"
  private val german = "der hund und die katze ist hier und der vogel singt in der luft heute"

  private val fixture = Seq(
    (1L, good),
    (2L, good), // exact dup of 1
    (3L, good + " extra tail words here"), // near dup of 1
    (4L, junk),
    (5L, short),
    (6L, german),
    (7L, "completely different english text about query engines shuffles and the big table scans"))
  private val fixtureConfig = TrainingData.CurationConfig(minQuality = 0.3, langs = Set("en"),
    minTokens = 5, nearDupJaccard = 0.6)

  test("curate gates quality/lang/length, removes exact and near dups") {
    val docs = fixture.toDF("doc_id", "text")
    val (kept, reasons) = TrainingData.curate(docs, "doc_id", "text", fixtureConfig)
    val ids = kept.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L))
    assert(!ids.contains(2L), "exact dup survived")
    assert(!ids.contains(3L), "near dup survived")
    assert(!ids.contains(4L), "junk survived")
    assert(!ids.contains(5L), "too-short survived")
    assert(!ids.contains(6L), "non-english survived")
    assert(ids.contains(7L))
    val r = reasons.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.getOrElse("language", 0L) >= 1L)
    // "the cat" trips the quality gate before the length gate (reason
    // chain checks quality first); junk + short both land there
    assert(r.getOrElse("low_quality", 0L) >= 2L)
  }

  test("curating the spec fixture runs 20 Spark jobs") {
    // ids shifted so that no earlier test's cached stages serve this
    // curation. Under budget the band join is unpruned and the
    // representative clusters plan nothing (PairBudget.bounded); with
    // the prune and the representatives always planned it ran 28.
    val docs = fixture.map { case (id, t) => (id + 100L, t) }.toDF("doc_id", "text")
    val jobs = jobsOf {
      TrainingData.curateFull(docs, "doc_id", "text", fixtureConfig).kept.count(): Unit
    }
    assert(jobs == 20, s"$jobs jobs")
  }

  test("stratifiedSample: content-hash subset at the target rate, partitioning-independent") {
    val rng = new scala.util.Random(7)
    val df = (1 to 4000).map { i =>
      (i.toLong, if (rng.nextBoolean()) "en" else "de")
    }.toDF("doc_id", "lang")
    val fr = Map("en" -> 0.25, "de" -> 1.0)
    val s1 = TrainingData.stratifiedSample(df.repartition(7), "lang", "doc_id", fr, seed = 11L)
    val s2 = TrainingData.stratifiedSample(df.repartition(3), "lang", "doc_id", fr, seed = 11L)
    val ids1 = s1.select("doc_id").as[Long].collect().toSet
    // accept set depends only on (seed, id) — NOT on partitioning
    assert(ids1 == s2.select("doc_id").as[Long].collect().toSet)
    val byLang = s1.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDe = df.filter($"lang" === "de").count()
    val nEn = df.filter($"lang" === "en").count()
    assert(byLang("de") == nDe, "rate-1.0 stratum must be kept whole")
    assert(math.abs(byLang("en").toDouble / nEn - 0.25) < 0.05)
    assert(ids1.subsetOf((1 to 4000).map(_.toLong).toSet))
    // absent stratum -> dropped
    val dropped = TrainingData.stratifiedSample(df, "lang", "doc_id",
      Map("en" -> 1.0), seed = 11L)
    assert(dropped.filter($"lang" === "de").count() == 0)
  }

  test("mixSources: subsample below 1, oversample above 1, all content-deterministic") {
    val a = (1 to 1000).map(i => (i.toLong, "a")).toDF("doc_id", "src")
    val b = (1001 to 2000).map(i => (i.toLong, "b")).toDF("doc_id", "src")
    val mixed = TrainingData.mixSources(Seq(a -> 0.3, b -> 1.5), "doc_id", seed = 5L)
    val bySrc = mixed.groupBy($"src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate 1.5: every row once + ~half twice
    assert(bySrc("b") >= 1400L && bySrc("b") <= 1600L, bySrc("b").toString)
    assert(mixed.filter($"src" === "b").select("doc_id").distinct().count() == 1000L)
    assert(math.abs(bySrc("a").toDouble / 1000 - 0.3) < 0.08)
    // content-hash draw: identical multiset regardless of partitioning
    val again = TrainingData.mixSources(
      Seq(a.repartition(5) -> 0.3, b.repartition(3) -> 1.5), "doc_id", seed = 5L)
    val m1 = mixed.groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    val m2 = again.groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    assert(m1 == m2)
    // exact rate 1 passes the source through untouched
    assert(TrainingData.mixSources(Seq(a -> 1.0), "doc_id", seed = 5L).count() == 1000L)
    intercept[IllegalArgumentException] {
      TrainingData.mixSources(Seq.empty, "doc_id", seed = 1L)
    }
  }

  test("curateFull dedups a mega near-dup cluster even when the hot-bucket cap binds") {
    // 200 near-identical docs (one distinguishing token each): with the
    // cap below the cluster size, the pair path skips their buckets —
    // the oversized-bucket fallback must still collapse the cluster
    // (keep ~min id per band bucket), not silently keep all 200
    val base = ("the quick brown fox jumps over the lazy dog and then " * 6).trim
    val cluster = (1000L until 1200L).map(i => (i, s"$base tail$i"))
    // genuinely distinct: every 3-word shingle carries an i-unique
    // token (alternating stopword/unique layout keeps langId=en), so
    // no two of these docs can share a band bucket or a jaccard pair
    val distinct = (1L to 20L).map(i =>
      (i, s"the w${i}a and w${i}b is w${i}c of w${i}d with w${i}e for w${i}f"))
    val docs = (cluster ++ distinct).toDF("doc_id", "text")
    val cfg = TrainingData.CurationConfig(
      minQuality = 0.0, langs = Set("en"), minTokens = 1, maxBucketRows = 50L)
    val kept = TrainingData.curateFull(docs, "doc_id", "text", cfg).kept
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptCluster = kept.count(_ >= 1000L)
    assert(kept.contains(1000L), "the cluster's min id must survive")
    assert(keptCluster <= 10, s"fallback must collapse the cluster, kept $keptCluster")
    // without the cap binding, the pair path handles it — results agree
    // on the cluster being collapsed
    val uncapped = TrainingData.curateFull(docs, "doc_id", "text",
        cfg.copy(maxBucketRows = 100000L)).kept
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(uncapped.count(_ >= 1000L) <= 10)
    // and when the GLOBAL pair budget binds instead of the per-bucket
    // cap (bucket cap wide open, budget below the cluster's C(200,2)
    // contribution), the representative fallback collapses it the same
    // way — the removal set stays complete under either guard
    val budgeted = TrainingData.curateFull(docs, "doc_id", "text",
        cfg.copy(maxBucketRows = 100000L, maxPairs = 100L)).kept
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(budgeted.contains(1000L), "the cluster's min id must survive the budget path")
    assert(budgeted.count(_ >= 1000L) <= 10,
      s"budget fallback must collapse the cluster, kept ${budgeted.count(_ >= 1000L)}")
    assert((1L to 20L).forall(budgeted.contains), "distinct docs unaffected by the budget")
  }

  test("cumulativeSum equals a sequential running sum, independent of partitioning") {
    val rng = new scala.util.Random(17)
    val rows = (1 to 5000).map(i => (i.toLong, rng.nextInt(100).toLong))
    val expected = rows.scanLeft((0L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }
      .tail.toMap
    for (parts <- Seq(1, 7)) {
      val got = graft.ops.DistributedRank.cumulativeSum(
          rows.toDF("id", "v").repartition(parts), "id", "v", "cs")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expected, s"parts=$parts")
    }
    // empty input: empty output with the column present
    val empty = graft.ops.DistributedRank.cumulativeSum(
      Seq.empty[(Long, Long)].toDF("id", "v"), "id", "v", "cs")
    assert(empty.columns.contains("cs") && empty.count() == 0)
  }

  test("chunkByTokens: overlapping word windows with exact boundaries") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words, 1 chunk
      (2L, (1 to 130).map(i => s"w$i").mkString(" ")), // 2 full + 1 tail chunk
      (3L, "") // empty -> single 1-token chunk of ""
    ).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis
      .chunkByTokens(docs, "doc_id", "text", chunkTokens = 64, overlap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3)))
      .toMap
    assert(out.keySet.count(_._1 == 1L) == 1)
    assert(out((1L, 0L)) == ((1 to 10).map(i => s"w$i").mkString(" "), 10L))
    // 130 words, stride 48: chunks start at 0, 48, 96 -> 3 chunks
    assert(out.keySet.count(_._1 == 2L) == 3)
    assert(out((2L, 1L))._1.startsWith("w49 ") && out((2L, 1L))._2 == 64L)
    assert(out((2L, 2L))._2 == 130L - 96L) // tail chunk
    // consecutive chunks overlap by exactly 16 words
    val c0 = out((2L, 0L))._1.split(" ")
    val c1 = out((2L, 1L))._1.split(" ")
    assert(c0.takeRight(16).toSeq == c1.take(16).toSeq)
    assert(out((3L, 0L)) == ("", 1L))
  }

  test("packBins concatenates member texts in stream order") {
    val docs = Seq(
      (1L, "a b", 2L), (2L, "c d e", 3L), (3L, "f", 1L), (4L, "g h", 2L)
    ).toDF("doc_id", "text", "n_tokens")
    val packed = TrainingData.packSequences(docs, "doc_id", "n_tokens", targetTokens = 5L)
    val bins = TrainingData.packBins(packed, "doc_id", "text", "n_tokens")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // exclusive cumsums: 0, 2, 5, 6 -> bins 0, 0, 1, 1
    assert(bins(0L) == (2L, 5L, "a b c d e"))
    assert(bins(1L) == (2L, 3L, "f g h"))
  }

  test("budgetPerKey keeps a prefix of the seeded order within each key's budget") {
    val df = (1 to 200).map(i => (i.toLong, s"src${i % 4}", 10L))
      .toDF("doc_id", "source", "cost")
    val kept = TrainingData.budgetPerKey(df, "source", "cost", "doc_id",
      budget = 100L, seed = 5L)
    val rows = kept.collect()
    // each key has 50 rows x cost 10; budget 100 keeps exactly 10 per key
    val perKey = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(perKey.values.toSet == Set(10))
    // cum_cost is the exact inclusive running sum and respects the cap
    assert(rows.forall(_.getLong(3) <= 100L))
    assert(rows.groupBy(_.getString(1)).values
      .forall(g => g.map(_.getLong(3)).sorted.toSeq == (1 to 10).map(_ * 10L)))
    // deterministic across partitionings
    val kept2 = TrainingData.budgetPerKey(df.repartition(13), "source", "cost",
      "doc_id", budget = 100L, seed = 5L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == rows.map(_.getLong(0)).toSet)
    // a different seed picks a different prefix
    val kept3 = TrainingData.budgetPerKey(df, "source", "cost", "doc_id",
      budget = 100L, seed = 6L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept3 != kept2)
  }

  test("shuffleOrder: a seeded permutation, partitioning-independent, seed-sensitive") {
    val docs = (1L to 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def ranks(df: org.apache.spark.sql.DataFrame, seed: Long): Map[Long, Long] =
      TrainingData.shuffleOrder(df, "doc_id", seed)
        .select($"doc_id", $"shuffle_rank")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r42 = ranks(docs, 42L)
    // a complete 1..n permutation
    assert(r42.values.toSeq.sorted == (1L to 500L).toSeq)
    // content-deterministic: any repartitioning produces the same order
    assert(ranks(docs.repartition(13), 42L) == r42)
    // a fresh seed is a fresh epoch permutation, not the identity ordering
    val r7 = ranks(docs, 7L)
    assert(r7 != r42)
    assert((1L to 500L).count(i => r42(i) == i) < 50, "order must not track ids")
  }

  test("packSequences: contiguous-stream bins match the sequential reference") {
    // token counts engineered around the target: exact fits, spills,
    // zero-token docs
    val docs = Seq(
      (1L, 100L), (2L, 924L), // fills bin 0 exactly
      (3L, 50L), (4L, 2000L), // doc 4 starts in bin 1, spills
      (5L, 0L), (6L, 10L)
    ).toDF("doc_id", "n_tokens")
    val out = TrainingData.packSequences(docs, "doc_id", "n_tokens", targetTokens = 1024L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // exclusive cumsums: 0, 100, 1024, 1074, 3074, 3074
    assert(out(1L) == (0L, 0L))
    assert(out(2L) == (0L, 100L))
    assert(out(3L) == (1L, 0L)) // starts exactly at the bin-1 boundary
    assert(out(4L) == (1L, 50L))
    assert(out(5L) == (3L, 2L)) // after the spilling doc: 3074 = 3*1024 + 2
    assert(out(6L) == (3L, 2L)) // zero-token doc occupies no stream space
  }
}
