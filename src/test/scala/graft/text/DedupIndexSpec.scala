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

  /** The executed plan of every SQL execution `body` runs, and the
    * number of Spark jobs it starts. */
  private def plansOf(body: => Unit): (Seq[String], Int) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs =
      try jobsOf(body)
      finally spark.listenerManager.unregister(listener)
    (scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala.toSeq, jobs)
  }

  test("a normal-regime newDocs plans one Exchange and no BroadcastExchange") {
    // the probe is finished on the driver: its only shuffle is the
    // bucket histogram's partial counts, and the returned frame is the
    // batch filtered by the duplicate ids (a parquet batch, so the
    // collect runs a job)
    val path = tmp("plan")
    DedupIndex.write(corpus, "doc_id", "text", path)
    val batchPath = tmp("planbatch")
    batch.write.parquet(batchPath)
    var kept: DataFrame = null
    val (probePlans, _) = plansOf {
      kept = DedupIndex.newDocs(spark, path, spark.read.parquet(batchPath), "doc_id", "text",
        threshold = 0.5)
    }
    val (plans, jobs) = plansOf(kept.collect(): Unit)
    assert(jobs >= 1 && plans.nonEmpty, s"$jobs jobs, ${plans.size} plans")
    plans.foreach(p => assert(!p.contains("Exchange"), p))
    // the batch side, the histogram and the candidate scan of sigs/
    assert(probePlans.size == 3, probePlans.mkString("\n"))
    (probePlans ++ plans).foreach(p => assert(!p.contains("BroadcastExchange"), p))
    val shuffles = probePlans.filter(_.contains("Exchange"))
    assert(shuffles.size == 1 && shuffles.head.contains("band_idx"), probePlans.mkString("\n"))
  }

  test("above the candidate ceiling the probe plans shuffle joins, same pairs") {
    // maxLocalCandidates = 0 forces the fallback regime: the pairs are
    // IDENTICAL to the driver-side probe's (the ceiling changes where
    // the join runs, never the result), and with size-based broadcast
    // off the plan joins by shuffle — no hint forces a broadcast
    val path = tmp("fallback")
    DedupIndex.write(corpus, "doc_id", "text", path)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val local = DedupIndex.probePairs(spark, path, batch, "doc_id", "text")
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try {
      val fallback = DedupIndex.probePairs(
        spark, path, batch, "doc_id", "text", maxLocalCandidates = 0L)
      // the planned (not yet adaptive-final) physical plan
      val plan = fallback.queryExecution.executedPlan.toString
      assert(pairsOf(fallback) == pairsOf(local) && pairsOf(local).nonEmpty)
      assert(!fallback.queryExecution.analyzed.toString.contains("ResolvedHint"))
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size == 3, plan)
    } finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  test("a rewrite clears the root; the manifest names only sigs/") {
    val path = tmp("stray")
    DedupIndex.write(corpus, "doc_id", "text", path)
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.writeString(root.resolve("_SUCCESS"), "")
    java.nio.file.Files.createDirectories(root.resolve("old"))
    java.nio.file.Files.writeString(root.resolve("old/part-0.parquet"), "stale")
    DedupIndex.write(corpus, "doc_id", "text", path)
    assert(new java.io.File(path).list().toSet == Set("sigs"))
    graft.io.BuildManifest.write(path)
    val files = graft.io.BuildManifest.files(path).get
    assert(files.nonEmpty && files.forall(_.startsWith("sigs/")), files.toString)
    assert(graft.io.BuildManifest.verifies(path))
  }

  test("an index in the earlier two-table layout is refused, and ensureIndex rebuilds it") {
    // the earlier layout: signatures alone in sigs/, the band
    // membership triples in bands/, published by a manifest
    val path = tmp("earlier")
    val sigs = Dedup.minHashSignatures(corpus, "doc_id", "text").filter($"mh_0".isNotNull)
    sigs.write.parquet(s"$path/sigs")
    Dedup.bandedTriples(sigs, "doc_id", 32, 8).write.parquet(s"$path/bands")
    graft.io.BuildManifest.write(path)
    assert(DedupIndex.earlierLayout(spark, path))
    intercept[IllegalStateException](DedupIndex.probePairs(spark, path, batch, "doc_id", "text"))
    intercept[IllegalStateException](
      DedupIndex.newDocs(spark, path, batch, "doc_id", "text", threshold = 0.5))
    intercept[IllegalStateException](DedupIndex.append(batch, "doc_id", "text", path))
    val sf = java.nio.file.Files.createTempDirectory("dedupsrc")
    java.nio.file.Files.createFile(sf.resolve("embeddings.parquet"))
    var builds = 0
    def ensure() = graft.queries.TextQueries.ensureIndex(sf.toString, path,
      !DedupIndex.earlierLayout(spark, path)) {
      builds += 1
      DedupIndex.write(corpus, "doc_id", "text", path)
      graft.io.BuildManifest.write(path)
    }
    ensure()
    assert(builds == 1 && !DedupIndex.earlierLayout(spark, path) &&
      graft.io.BuildManifest.verifies(path))
    ensure()
    assert(builds == 1)
    val fresh = tmp("earlierfresh")
    DedupIndex.write(corpus, "doc_id", "text", fresh)
    def pairs(p: String) = DedupIndex.probePairs(spark, p, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(path) == pairs(fresh) && pairs(fresh).nonEmpty)
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

  /** Rows as a multiset: (corpus_id, batch_id, est_jaccard) → count. */
  private def tripleBag(df: DataFrame): Map[(Any, Any, Double), Int] =
    df.collect().toSeq.groupBy(r => (r.get(0), r.get(1), r.getDouble(2))).view
      .mapValues(_.size).toMap

  test("probePairs equals the reference formulation across regimes, edge batches and partitions") {
    val (edited, corpusDf) = seededCorpus(7L)
    val path = tmp("refeq")
    DedupIndex.write(corpusDf, "doc_id", "text", path)
    val mixed = (edited.take(12).zipWithIndex.map { case (t, i) => (1000L + i, t) } ++
      Seq((1100L, "fresh unseen material with many novel words inside it"),
        (1101L, "w1 w2"), (1102L, "xy"))).toDF("doc_id", "text")
    def stringIds(df: DataFrame) = df.withColumn("doc_id", concat(lit("d"), $"doc_id"))
    val strPath = tmp("refeqstr")
    DedupIndex.write(stringIds(corpusDf), "doc_id", "text", strPath)
    // a null id on each side: in the index a copy of doc 2 (root 1),
    // in the batch an edit of root 1
    val rootText = corpusDf.filter($"doc_id" === 2L).head().getString(1)
    val nullRow = Seq((null: java.lang.Long, rootText)).toDF("doc_id", "text")
    val nullPath = tmp("refeqnull")
    DedupIndex.write(corpusDf.unionByName(nullRow), "doc_id", "text", nullPath)
    // the index after a replayed append: docs 1-20 are in it twice
    val replayPath = tmp("refeqreplay")
    DedupIndex.write(corpusDf, "doc_id", "text", replayPath)
    DedupIndex.append(corpusDf.filter($"doc_id" <= 20L), "doc_id", "text", replayPath)
    val cases = Seq(
      ("mixed", path, mixed),
      ("empty", path, mixed.limit(0)),
      ("no signatures", path, Seq((2001L, "w1 w2"), (2002L, "xy")).toDF("doc_id", "text")),
      ("ids in the index", path, corpusDf.filter($"doc_id" <= 20L)),
      ("string ids", strPath, stringIds(mixed.unionByName(corpusDf.filter($"doc_id" <= 5L)))),
      ("null ids", nullPath, mixed.unionByName(
        Seq((null: java.lang.Long, edited(1))).toDF("doc_id", "text"))),
      ("repeated id", path, mixed.unionByName(Seq((1000L, edited(3))).toDF("doc_id", "text"))),
      ("replayed append", replayPath, mixed.unionByName(corpusDf.filter($"doc_id" <= 5L))))
    val regimes: Seq[(String, Long, Long)] = Seq(
      ("default", DedupIndex.DefaultMaxBucketRows, DedupIndex.DefaultMaxLocalCandidates),
      ("maxBucketRows = 1", 1L, DedupIndex.DefaultMaxLocalCandidates),
      ("maxBucketRows = 3", 3L, DedupIndex.DefaultMaxLocalCandidates),
      ("maxLocalCandidates = 0", DedupIndex.DefaultMaxBucketRows, 0L))
    val results = for {
      p <- Seq(1, 7); (bName, idx, b) <- cases; (rName, cap, ceiling) <- regimes
    } yield ReferenceFormulations.withShufflePartitions(spark, p) {
      val got = tripleBag(DedupIndex.probePairs(spark, idx, b, "doc_id", "text",
        maxBucketRows = cap, maxLocalCandidates = ceiling))
      val want = tripleBag(ReferenceFormulations.dedupIndexProbePairs(spark, idx, b, "doc_id", "text",
        maxBucketRows = cap, maxLocalCandidates = ceiling))
      assert(got == want, s"$bName, $rName, $p partitions")
      (p, bName, rName) -> got
    }
    val byCase = results.toMap
    def set(k: (Int, String, String)) = byCase(k).keySet.map { case (c, b, e) =>
      (c.asInstanceOf[Long], b.asInstanceOf[Long], e) }
    // the fixture exercises each regime: the cap of 3 drops some probed
    // buckets but not all, and the self-id batch finds itself
    val open = set((1, "mixed", "default"))
    val capped = set((1, "mixed", "maxBucketRows = 3"))
    assert(capped.nonEmpty && capped.size < open.size, s"capped ${capped.size} of ${open.size}")
    assert(set((1, "mixed", "maxBucketRows = 1")).subsetOf(capped) && capped.subsetOf(open))
    assert(byCase((1, "empty", "default")).isEmpty && byCase((1, "no signatures", "default")).isEmpty)
    val self = set((1, "ids in the index", "default"))
    assert((1L to 20L).forall(i => self.contains((i, i, 1.0))))
    // each edge case reaches its edge: string ids match, the null ids
    // match nothing, the repeated id yields rows for both of its
    // texts, and the replayed rows double their documents' rows
    assert(byCase((1, "string ids", "default")).keySet.exists(_._1 == "d1"))
    val withNull = byCase((1, "null ids", "default"))
    assert(withNull.nonEmpty && withNull.keySet.forall(t => t._1 != null && t._2 != null))
    assert(byCase((1, "repeated id", "default")).size > byCase((1, "mixed", "default")).size)
    assert(byCase((1, "replayed append", "default")).exists { case ((c, b, _), n) =>
      c == b && c.asInstanceOf[Long] <= 5L && n == 2 })
    // newDocs drops exactly the docs with a near-dup other than themselves
    val selfBatch = corpusDf.filter($"doc_id" <= 20L)
    val kept = DedupIndex.newDocs(spark, path, selfBatch, "doc_id", "text", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    val dropped = self.collect { case (c, b, est) if c != b && est >= 0.5 => b }
    assert(kept == (1L to 20L).toSet -- dropped && dropped.nonEmpty && kept.nonEmpty)
    // and keeps the same rows in either regime, null ids included
    for ((bName, idx, b) <- cases) {
      def keep(ceiling: Long) = DedupIndex.newDocs(spark, idx, b, "doc_id", "text",
        threshold = 0.5, maxLocalCandidates = ceiling).collect().map(r => (r.get(0), r.get(1)))
        .toSeq.groupBy(identity).view.mapValues(_.size).toMap
      assert(keep(DedupIndex.DefaultMaxLocalCandidates) == keep(0L), bName)
    }
  }

  test("one newDocs probe runs 3 Spark jobs") {
    // the batch side is collected once (a local fixture batch needs no
    // job for that); the 3 are the bucket histogram over the band keys
    // (map stage, result) and the sigs/ scan of the index rows in the
    // capped probed buckets. No schema is inferred, nothing is
    // broadcast, and the returned frame filters the local batch
    // without a job.
    val path = tmp("jobs")
    DedupIndex.write(corpus, "doc_id", "text", path)
    val jobs = jobsOf {
      DedupIndex.newDocs(spark, path, batch, "doc_id", "text", threshold = 0.5).collect(): Unit
    }
    assert(jobs == 3, s"$jobs jobs")
  }

  test("write and append each run one Spark job") {
    val path = tmp("onejob")
    assert(jobsOf(DedupIndex.write(corpus, "doc_id", "text", path)) == 1)
    assert(jobsOf(DedupIndex.append(batch, "doc_id", "text", path)) == 1)
  }

  test("the stored band keys are Dedup.bandHashes of the stored signatures") {
    val path = tmp("bandkeys")
    DedupIndex.write(corpus, "doc_id", "text", path)
    DedupIndex.append(batch, "doc_id", "text", path)
    val stored = spark.read.parquet(s"$path/sigs")
    assert(stored.columns.toSeq ==
      "doc_id" +: ((0 until 32).map(i => s"mh_$i") ++ (0 until 8).map(b => s"bh_$b")))
    val differ = Dedup.bandHashes(32, 8).zipWithIndex
      .map { case (h, b) => !col(s"bh_$b").eqNullSafe(h) }.reduce(_ || _)
    // 7 and 17 have no shingles, so 3 + 3 rows
    assert(stored.count() == 6L && stored.filter(differ).count() == 0L)
  }

  test("hasShingles keeps exactly the texts with a minhash signature") {
    val texts = Seq(null, "", " ", "a", "a b", "a  b", " a b", "a b ", "a b c", "a\tb c",
      "x y z w", "  ", "a b  ")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
    val signed = ids(Dedup.minHashSignatures(docs, "doc_id", "text").filter($"mh_0".isNotNull))
    assert(ids(docs.filter(Dedup.hasShingles($"text"))) == signed)
    assert(signed.nonEmpty && signed.size < texts.size)
  }

  test("the minhash kernel runs once per row: write, append, the probe's batch side") {
    // a null-signature filter on mh_0 is pushed beneath the projection
    // that computes the kernel and evaluates it again; the documents
    // are filtered on their text instead. Parquet inputs: the optimizer
    // folds a local relation's kernel into the plan's constants.
    val path = tmp("kernel")
    val corpusPath = tmp("kernelcorpus")
    val batchPath = tmp("kernelbatch")
    corpus.write.parquet(corpusPath)
    batch.write.parquet(batchPath)
    def read(p: String) = spark.read.parquet(p)
    assert(kernelsPerExecution(DedupIndex.write(read(corpusPath), "doc_id", "text", path)) == Seq(1))
    assert(kernelsPerExecution(DedupIndex.append(read(batchPath), "doc_id", "text", path)) == Seq(1))
    // the probe's executions: the batch side, then the index-only ones
    val probe = kernelsPerExecution(DedupIndex.newDocs(spark, path,
      read(batchPath), "doc_id", "text", threshold = 0.5): Unit)
    assert(probe.sorted == Seq(0, 0, 1), probe)
  }
}
