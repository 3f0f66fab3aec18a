package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.ReferenceFormulations

class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  private val nearDup = "the quick brown fox jumps over the lazy dog and runs far away tonight"
  private val other = "completely different content about spark query engines and shuffles everywhere"
  private val third = "yet another unrelated document describing catalyst rules and physical plans"

  private def corpus = Seq(
    (1L, base), (3L, other), (5L, third), (7L, "ab") // 7: no shingles
  ).toDF("doc_id", "text")

  // 11 near-dups 1, 13 exact-dups 1, 15 is new, 17 has no shingles
  private def batch = Seq(
    (11L, nearDup), (13L, base), (15L, "fresh unseen material with many novel words inside it"),
    (17L, "xy")
  ).toDF("doc_id", "text")

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"dedupindex$tag").toString + "/idx"

  test("probe finds exactly the cross near-dup pairs, with sane estimates") {
    val path = tmp("probe")
    DedupIndex.write(corpus, "doc_id", "text", path)
    val pairs = DedupIndex.probePairs(spark, path, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // both dups of doc 1 found; exact dup agrees on every slot
    assert(pairs.contains((1L, 13L)) && pairs((1L, 13L)) == 1.0)
    assert(pairs.contains((1L, 11L)) && pairs((1L, 11L)) > 0.3)
    // no candidate may involve the unrelated or shingle-less docs
    assert(pairs.keys.forall { case (c, b) => c == 1L && (b == 11L || b == 13L) },
      pairs.keys.toString)
  }

  test("append-then-probe is identical to rebuild-then-probe") {
    val half1 = corpus.filter($"doc_id" <= 3)
    val half2 = corpus.filter($"doc_id" > 3)
    val pIncr = tmp("incr"); val pFull = tmp("full")
    DedupIndex.write(half1, "doc_id", "text", pIncr)
    DedupIndex.append(half2, "doc_id", "text", pIncr)
    DedupIndex.write(corpus, "doc_id", "text", pFull)
    def probe(p: String) = DedupIndex.probePairs(spark, p, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probe(pIncr) == probe(pFull))
  }

  test("probe matches the batch self-join restricted to cross pairs") {
    // reference: the standard candidate machinery over corpus ∪ batch,
    // keeping only (corpus, batch) pairs — the index must reproduce it
    val path = tmp("ref")
    DedupIndex.write(corpus, "doc_id", "text", path)
    val all = corpus.unionByName(batch)
    val sigs = Dedup.minHashSignatures(all, "doc_id", "text")
      .filter($"mh_0".isNotNull)
    val refPairs: Set[(Long, Long)] = Dedup.minHashCandidatePairs(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref = refPairs
      .filter { case (a, b) => (a < 10) != (b < 10) } // cross pairs only
      .map { case (a, b) => if (a < 10) (a, b) else (b, a) }
    val got = DedupIndex.probePairs(spark, path, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref, s"got $got ref $ref")
  }

  test("newDocs keeps exactly the batch docs without a corpus near-dup") {
    val path = tmp("new")
    DedupIndex.write(corpus, "doc_id", "text", path)
    val kept = DedupIndex.newDocs(spark, path, batch, "doc_id", "text", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    // 13 (exact dup, est 1.0) dropped; 11 near-dup: dropped iff its
    // estimate clears 0.5 — assert consistency with the pairs instead
    // of hardcoding the hash-dependent estimate
    val est11 = DedupIndex.probePairs(spark, path, batch, "doc_id", "text")
      .filter($"batch_id" === 11L).collect().map(_.getDouble(2)).maxOption
    assert(!kept.contains(13L))
    assert(kept.contains(15L) && kept.contains(17L))
    assert(kept.contains(11L) == est11.forall(_ < 0.5))
    // replay: the kept docs were appended, then the caller crashed
    // before recording it; the same batch probed again finds each kept
    // doc's own prior append and must ignore it
    DedupIndex.append(batch.filter($"doc_id".isin(kept.toSeq: _*)), "doc_id", "text", path)
    val replayed = DedupIndex.newDocs(spark, path, batch, "doc_id", "text", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(replayed == kept)
  }

  test("oversized probed buckets are dropped, not exploded") {
    // 60 identical corpus docs -> every band bucket holds 60 members;
    // cap 10 must yield ZERO candidates for a matching batch doc
    val big = (1L to 60L).map(i => (i, base)).toDF("doc_id", "text")
    val path = tmp("cap")
    DedupIndex.write(big, "doc_id", "text", path)
    val probeDf = Seq((100L, base)).toDF("doc_id", "text")
    val capped = DedupIndex.probePairs(
      spark, path, probeDf, "doc_id", "text", maxBucketRows = 10L)
    assert(capped.count() == 0L)
    // and with a generous cap all 60 surface
    val open = DedupIndex.probePairs(
      spark, path, probeDf, "doc_id", "text", maxBucketRows = 1000L)
    assert(open.count() == 60L)
  }

  test("the candidate join broadcasts the batch side (corpus never shuffles)") {
    val path = tmp("plan")
    DedupIndex.write(corpus, "doc_id", "text", path)
    val plan = DedupIndex.probePairs(spark, path, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("above the candidate ceiling the probe degrades to shuffle joins, same pairs") {
    // maxBroadcastCandidates = 0 forces the fallback regime: the plan
    // must stop broadcasting the candidate set, and the emitted pairs
    // must be IDENTICAL to the broadcast plan's (the ceiling changes
    // the physical join, never the result)
    val path = tmp("fallback")
    DedupIndex.write(corpus, "doc_id", "text", path)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bcast = DedupIndex.probePairs(spark, path, batch, "doc_id", "text")
    val fallback = DedupIndex.probePairs(
      spark, path, batch, "doc_id", "text", maxBroadcastCandidates = 0L)
    assert(pairsOf(fallback) == pairsOf(bcast))
    // the unbounded sets (batchOk triples, cand) lose their FORCED
    // broadcast hints — AQE may still broadcast genuinely small sides
    // at runtime (it does here, the fixture is tiny), which is exactly
    // the stats-driven behavior the fallback hands the planner
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString
        .linesIterator.count(_.contains("ResolvedHint"))
    assert(hints(fallback) == hints(bcast) - 2,
      s"fallback ${hints(fallback)} vs bcast ${hints(bcast)}")
  }

  // ---- the probe against its reference formulation ----

  private val vocab = (0 until 80).map(i => s"w$i")

  /** A seeded corpus of 30 root texts, each a near-dup cluster of 1-6
    * members (alternating exact copies and one-word edits), ids 1.. in
    * order; also returns a fresh one-word edit of each root. */
  private def seededCorpus(seed: Long): (Seq[String], DataFrame) = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def edit(t: String) = {
      val w = t.split(" ")
      w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
      w.mkString(" ")
    }
    val roots = Seq.fill(30)(words(10 + rnd.nextInt(10)).mkString(" "))
    val texts = roots.zipWithIndex.flatMap { case (r, i) =>
      r +: (1 to i % 6).map(m => if (m % 2 == 0) r else edit(r))
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")
    (roots.map(edit), df)
  }

  private def tripleSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("probePairs equals the reference formulation across regimes, edge batches and partitions") {
    val (edited, corpusDf) = seededCorpus(7L)
    val path = tmp("refeq")
    DedupIndex.write(corpusDf, "doc_id", "text", path)
    val mixed = (edited.take(12).zipWithIndex.map { case (t, i) => (1000L + i, t) } ++
      Seq((1100L, "fresh unseen material with many novel words inside it"),
        (1101L, "w1 w2"), (1102L, "xy"))).toDF("doc_id", "text")
    val batches = Seq(
      "mixed" -> mixed,
      "empty" -> mixed.limit(0),
      "no signatures" -> Seq((2001L, "w1 w2"), (2002L, "xy")).toDF("doc_id", "text"),
      "ids in the index" -> corpusDf.filter($"doc_id" <= 20L))
    val regimes: Seq[(String, Long, Long)] = Seq(
      ("default", DedupIndex.DefaultMaxBucketRows, DedupIndex.DefaultMaxBroadcastCandidates),
      ("maxBucketRows = 1", 1L, DedupIndex.DefaultMaxBroadcastCandidates),
      ("maxBucketRows = 3", 3L, DedupIndex.DefaultMaxBroadcastCandidates),
      ("maxBroadcastCandidates = 0", DedupIndex.DefaultMaxBucketRows, 0L))
    val results = for {
      p <- Seq(1, 7); (bName, b) <- batches; (rName, cap, ceiling) <- regimes
    } yield ReferenceFormulations.withShufflePartitions(spark, p) {
      val got = tripleSet(DedupIndex.probePairs(spark, path, b, "doc_id", "text",
        maxBucketRows = cap, maxBroadcastCandidates = ceiling))
      val want = tripleSet(ReferenceFormulations.dedupIndexProbePairs(spark, path, b, "doc_id", "text",
        maxBucketRows = cap, maxBroadcastCandidates = ceiling))
      assert(got == want, s"$bName, $rName, $p partitions")
      (p, bName, rName) -> got
    }
    val byCase = results.toMap
    // the fixture exercises each regime: the cap of 3 drops some probed
    // buckets but not all, and the self-id batch finds itself
    val open = byCase((1, "mixed", "default"))
    val capped = byCase((1, "mixed", "maxBucketRows = 3"))
    assert(capped.nonEmpty && capped.size < open.size, s"capped ${capped.size} of ${open.size}")
    assert(byCase((1, "mixed", "maxBucketRows = 1")).subsetOf(capped) && capped.subsetOf(open))
    assert(byCase((1, "empty", "default")).isEmpty && byCase((1, "no signatures", "default")).isEmpty)
    val self = byCase((1, "ids in the index", "default"))
    assert((1L to 20L).forall(i => self.contains((i, i, 1.0))))
    // newDocs drops exactly the docs with a near-dup other than themselves
    val selfBatch = corpusDf.filter($"doc_id" <= 20L)
    val kept = DedupIndex.newDocs(spark, path, selfBatch, "doc_id", "text", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    val dropped = self.collect { case (c, b, est) if c != b && est >= 0.5 => b }
    assert(kept == (1L to 20L).toSet -- dropped && dropped.nonEmpty && kept.nonEmpty)
  }

  test("one newDocs probe runs 12 Spark jobs") {
    // the batch side is collected once (a local fixture batch needs no
    // job for that) and the bucket histogram once; the 12 are two
    // parquet schema reads, the histogram (probed-key broadcast, bands/
    // map stage, result) and the caller's collect (two batch-side
    // broadcasts, bands/ and sigs/ map stages each with the result
    // stage that broadcasts it, the final stage).
    val path = tmp("jobs")
    DedupIndex.write(corpus, "doc_id", "text", path)
    val jobs = jobsOf {
      DedupIndex.newDocs(spark, path, batch, "doc_id", "text", threshold = 0.5).collect(): Unit
    }
    assert(jobs == 12, s"$jobs jobs")
  }
}
