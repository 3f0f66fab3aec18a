package graft.text

import graft.SparkSpec
import graft.ops.ReferenceFormulations
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class TextSimSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCountWhitespace / BPE-ish counts") {
    val df = Seq((1, "a bb ccc dddd eeeee"), (2, ""), (3, "single")).toDF("id", "t")
    val out = df.select($"id",
      TextAnalysis.tokenCountWhitespace($"t").as("ws"),
      TextAnalysis.tokenCountBpeIsh($"t").as("bpe"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1)._1 == 5)
    assert(out(2)._1 == 0)
    assert(out(3)._1 == 1)
    // bpe-ish: ceil(len/4) per word, min 1 → 1+1+1+1+2 = 6
    assert(out(1)._2 == 6)
  }

  test("codegen'd counting expressions match the replace-based formulas") {
    val df = Seq(
      (1L, "the cat and the dog sat in the house of the cards"),
      (2L, ""), (3L, "a"), (4L, "x  y"), (5L, "1.2, 3; four! five? 6:7"),
      (6L, "的是了的是 在我 的"), (7L, "aaa aaaa aaaaa b"), (8L, "ab.ab.ab.ab")
    ).toDF("id", "t")
    val old = df.select($"id",
      when(length($"t") === 0, 0L)
        .otherwise(length($"t") - length(regexp_replace($"t", " ", "")) + lit(1))
        .cast("long").as("ws"),
      aggregate(split($"t", " "), lit(0L),
        (acc, w) => acc + greatest(ceil(length(w).cast("double") / 4.0).cast("long"), lit(1L)))
        .as("bpe"),
      (length($"t") - length(regexp_replace($"t", "[\\.,;:!\\?]", ""))).cast("long").as("punct"),
      (length($"t") - length(regexp_replace($"t", "[0-9]", ""))).cast("long").as("digit"),
      ((length($"t") - length(replace($"t", lit(" the "), lit("")))) / 5).cast("long").as("sthe"),
      ((length($"t") - length(replace($"t", lit("的"), lit("")))) / 1).cast("long").as("szh"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val neu = df.select($"id",
      TextAnalysis.tokenCountWhitespace($"t").as("ws"),
      TextAnalysis.tokenCountBpeIsh($"t").as("bpe"),
      TextAnalysis.punctCount($"t").as("punct"),
      TextAnalysis.digitCount($"t").as("digit"),
      TextAnalysis.substrCount($"t", " the ").as("sthe"),
      TextAnalysis.substrCount($"t", "的").as("szh"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(neu == old)
  }

  test("one-pass winnowing matches an independent reference bit-for-bit") {
    // reference path: hex-digest parse (the DuckDB oracle's route) +
    // plain collection slicing — disjoint from the kernel's
    // byte-shift + clamped-substring loop.
    def md5Top60Ref(s: String): Long = java.lang.Long.parseUnsignedLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15), 16)
    def winnowRef(t: String, k: Int, w: Int): Seq[Long] = {
      val len = t.length
      val nG = math.max(len - (k - 1), 1)
      val grams = (0 until nG).map(i => md5Top60Ref(t.substring(i, math.min(i + k, len))))
      val last = math.max(nG - w, 0)
      (0 to last).map(i => grams.slice(i, math.min(i + w, nG)).min).distinct
    }
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, "abc"), (4L, "abcdefghij"), (5L, "aaaaaaaaaaaaaaa")
    ).toDF("id", "t")
    val texts = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((k, w) <- Seq((5, 4), (3, 2))) {
      val neu = df.select($"id", TextAnalysis.winnowingFingerprints($"t", k, w).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(neu == texts.view.mapValues(winnowRef(_, k, w)).toMap, s"k=$k w=$w")
    }
  }

  test("langId votes stopwords with deterministic tie-break") {
    val df = Seq(
      (1, "the cat and the dog sat in the house of cards"),
      (2, "der hund und die katze ist hier und der vogel"),
      (3, "le chat et la maison des les fleurs"),
      (4, "xyzzy plugh abcdef")
    ).toDF("id", "t")
    val out = df.select($"id", TextAnalysis.langId($"t").as("l"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "en")
    assert(out(2) == "de")
    assert(out(3) == "fr")
    assert(out(4) == "und")
  }

  test("repetition signals flag duplicated content, zero on clean/short text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),            // one distinct word
      (2L, "every word here is completely distinct"),   // no repetition
      (3L, "a b"),                                      // too short for 3-grams
      (4L, "line one\nline one\nline two"),             // duplicate line
      (5L, "")
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextAnalysis.duplicateNgramFraction($"text", 1).as("w"),
      TextAnalysis.duplicateNgramFraction($"text", 3).as("g"),
      TextAnalysis.duplicateLineFraction($"text").as("l"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L)._1 == 1.0 - 1.0 / 6.0) // 1 distinct of 6 words
    assert(out(1L)._2 == 1.0 - 1.0 / 4.0) // 1 distinct of 4 windows
    assert(out(2L)._1 == 0.0 && out(2L)._2 == 0.0)
    assert(out(3L)._2 == 0.0) // no full 3-gram window
    assert(out(4L)._3 == 1.0 - 2.0 / 3.0) // 2 distinct of 3 lines
    assert(out(5L)._1 == 0.0 && out(5L)._3 == 0.0) // "" splits to one (empty) token
  }

  test("stopword fraction and PII counts gate curation candidates") {
    val df = Seq(
      (1L, "the cat and the dog in the house of cards"),
      (2L, "zzz qqq www eee rrr"),
      (3L, "mail me at a.user+x@example.org or see https://example.org/x and http://b.co")
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextAnalysis.stopwordFraction($"text").as("sw"),
      TextAnalysis.emailCount($"text").as("em"),
      TextAnalysis.urlCount($"text").as("url"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L)._1 > 0.3) // function-word heavy
    assert(out(2L)._1 == 0.0)
    assert(out(3L)._2 == 1L && out(3L)._3 == 2L)
  }

  test("PQ: encode is deterministic across partitionings; ADC ranks the identical vector first") {
    import graft.sim.Pq
    // clustered synthetic vectors (8-dim, m=4 × subDim 2): vec 0 and
    // its exact duplicate 99 must share codes and top the ADC ranking
    val base = (0 until 8).map(_.toDouble / 7).toArray
    def vec(seed: Int): Seq[Float] =
      (0 until 8).map(i => (base(i) + ((seed * 31 + i * 17) % 97) / 97.0).toFloat)
    val rows = (1L to 60L).map(i => (i, vec(i.toInt))) ++
      Seq((0L, vec(0)), (99L, vec(0))) // identical pair
    val df = rows.toDF("vec_id", "embedding")
    val model = Pq.fit(df, "embedding", dim = 8, m = 4, k = 8, seed = 7L)
    val enc = Pq.encode(df, "embedding", model)
    val codes3 = Pq.encode(df.repartition(3), "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    val codes11 = Pq.encode(df.repartition(11), "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(codes3 == codes11) // partitioning-independent assignment
    assert(codes3(0L) == codes3(99L)) // identical vectors, identical codes
    val q = (0 until 8).map(i => vec(0)(i).toDouble).toArray
    val all = Pq.adcTopK(enc, "vec_id", model, q, k = 62)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val byId = all.toMap
    // ADC distance is a pure function of the codes: the query's exact
    // copies share its (minimal) distance; id 0 leads by tie-break.
    // Other vectors MAY tie (PQ is lossy — same cells, same distance).
    assert(all.head._1 == 0L)
    assert(byId(99L) == all.head._2)
    assert(all.map(_._2).toSeq == all.map(_._2).toSeq.sorted)
  }

  test("ivfPqTopK scores only members of the probed cells") {
    import graft.sim.{Pq, Similarity}
    val rows = (0L to 40L).map(i =>
      (i, (0 until 8).map(j => ((i * 13 + j * 7) % 23).toFloat / 23f)))
    val df = rows.toDF("vec_id", "embedding")
    val (assigned, centroids) = Similarity.ivfIndex(df, "vec_id", "embedding", nCells = 4)
    val model = Pq.fit(df, "embedding", dim = 8, m = 4, k = 4, seed = 3L)
    val q = rows.head._2.map(_.toDouble).toArray
    val probes = Similarity.probeCells(centroids, q, nProbe = 2)
    val top = Pq.ivfPqTopK(Pq.encode(assigned, "embedding", model),
        "vec_id", model, q, probes, k = 50)
      .collect().map(_.getLong(0)).toSet
    val cellOf = assigned.select($"vec_id", $"_cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(top.nonEmpty && top.forall(id => probes.contains(cellOf(id))))
    assert(cellOf.count { case (_, c) => probes.contains(c) } == top.size)
  }

  test("native PQ kernels are bit-identical to the SQL-replayable forms, incl. k=256 codebooks") {
    import graft.sim.Pq
    val dim = 16
    val df = (0L until 400L).map { i =>
      (i, Array.tabulate(dim)(j => (math.sin(i * 1.9 + j * 0.7) * 2.0).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Array.tabulate(dim)(j => math.cos(j * 0.31) * 1.5)
    // tiny (oracle-class) codebooks: both paths must agree exactly
    val tiny = Pq.fit(df, "embedding", dim, m = 4, k = 8, seed = 7L)
    val sqlCodes = Pq.encode(df, "embedding", tiny)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    val natCodes = Pq.encodeNative(df, "embedding", tiny)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(natCodes == sqlCodes)
    val sqlAdc = Pq.adcTopK(Pq.encode(df, "embedding", tiny), "vec_id", tiny, q, k = 400)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val natAdc = Pq.adcTopKNative(Pq.encodeNative(df, "embedding", tiny), "vec_id", tiny, q, k = 400)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(natAdc == sqlAdc) // same rows, same order, same double bits
    // production codebooks (k=256, the faiss default): the SQL form
    // still evaluates at spec scale — the native kernel must match it
    // bit-for-bit there too (at scale only the native form is viable)
    val prod = Pq.fit(df, "embedding", dim, m = 4, k = 256, seed = 7L, sampleN = 400)
    assert(prod.k == 256)
    val sqlProd = Pq.encode(df, "embedding", prod)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    val natProd = Pq.encodeNative(df, "embedding", prod)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(natProd == sqlProd)
    val sqlProdAdc = Pq.adcTopK(Pq.encode(df, "embedding", prod), "vec_id", prod, q, k = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val natProdAdc = Pq.adcTopKNative(Pq.encodeNative(df, "embedding", prod), "vec_id", prod, q, k = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(natProdAdc == sqlProdAdc)
  }

  test("assignCells native kernel is bit-identical to the literal form across the dispatch threshold") {
    import graft.sim.Similarity
    val dim = 16
    val df = (0L until 500L).map { i =>
      (i, Array.tabulate(dim)(j => (math.sin(i * 2.3 + j * 0.57) * 3.0).toFloat))
    }.toDF("vec_id", "embedding")
    // production-count centroids (300 cells x 16 dims > NativeAssignFlops
    // -> the public assignCells dispatches native); derive them from the
    // data so ties and near-ties occur naturally
    val cents = Array.tabulate(300)(c =>
      Array.tabulate(dim)(j => math.sin(c * 1.1 + j * 0.57) * 3.0))
    assert(cents.length * dim > Similarity.NativeAssignFlops)
    def cells(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id"), col("_cell")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lit300 = cells(Similarity.assignCellsLiteral(df, "embedding", cents))
    val nat300 = cells(Similarity.assignCellsNative(df, "embedding", cents))
    val pub300 = cells(Similarity.assignCells(df, "embedding", cents))
    assert(nat300 == lit300, "native argmin diverged from the literal struct array_min")
    assert(pub300 == nat300, "public assignCells did not dispatch to the native kernel's result")
    // under the threshold the public form stays the SQL-mirrorable
    // literal plan — and an EXACT-tie corpus (every vector equidistant
    // to duplicated centroids) must break ties to the lowest cell id
    // identically on both paths
    val dup = Array(cents(3), cents(3), cents(7))
    val litDup = cells(Similarity.assignCellsLiteral(df, "embedding", dup))
    val natDup = cells(Similarity.assignCellsNative(df, "embedding", dup))
    assert(litDup == natDup)
    assert(!litDup.values.exists(_ == 1), "tie between duplicate centroids must go to the lowest id")
  }

  test("adcTopKRefined: pool covering the corpus degenerates to exact L2; small pools stay ADC-bounded") {
    import graft.sim.{AnnRecall, Pq}
    val dim = 16
    val df = (0L until 300L).map { i =>
      (i, Array.tabulate(dim)(j => (math.sin(i * 1.9 + j * 0.7) * 2.0).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Array.tabulate(dim)(j => math.cos(j * 0.31) * 1.5)
    val model = Pq.fit(df, "embedding", dim, m = 4, k = 16, seed = 7L)
    val enc = Pq.encodeNative(df, "embedding", model)
    // pool ≥ corpus: the refine stage re-ranks everything exactly →
    // bit-identical to the brute-force L2 baseline
    val refined = Pq.adcTopKRefined(enc, df, "vec_id", "embedding",
      model, q, k = 15, poolK = 300)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = AnnRecall.bruteForceL2TopK(df, "vec_id", "embedding", q, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refined == exact)
    // a small pool returns k rows drawn from the ADC top-poolK set
    val pool = Pq.adcTopKNative(enc, "vec_id", model, q, k = 40)
      .collect().map(_.getLong(0)).toSet
    val small = Pq.adcTopKRefined(enc, df, "vec_id", "embedding",
      model, q, k = 10, poolK = 40)
      .collect().map(_.getLong(0))
    assert(small.length == 10 && small.forall(pool))
  }

  test("bigram LM: hand-computed conditional MLE, OOV penalty, occurrence counting") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    // occurrences: doc1 [a b, b a, a b], doc2 [a b, b c] →
    // c(a b)=3, c(b a)=1, c(b c)=1; ctx(a)=3, ctx(b)=2
    val model = TextAnalysis.bigramLmModel(docs, "text", minCount = 2L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(model == Map("a b" -> 0.0)) // ln(3/3)=0; the c=1 bigrams dropped
    val scores = TextAnalysis.bigramLmScores(docs, "doc_id", "text",
        TextAnalysis.bigramLmModel(docs, "text", minCount = 2L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc1: [0, -20, 0]/3; doc2: [0, -20]/2; doc3: no bigrams → absent
    assert(scores(1L)._1 == 3L && approx(scores(1L)._2, -20.0 / 3))
    assert(scores(2L) == ((2L, -10.0)))
    assert(!scores.contains(3L))
  }

  test("wordNgrams keeps duplicate occurrences in order (non-distinct kernel)") {
    import graft.functions.TextHashExpressions
    val df = Seq((1L, "a b a b"), (2L, ""), (3L, "x"), (4L, "a  b")).toDF("id", "t")
    val out = df.select($"id", TextHashExpressions.wordNgrams($"t", 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a b", "b a", "a b"))
    assert(out(2L).isEmpty) // "" splits to one empty word → no bigram
    assert(out(3L).isEmpty)
    assert(out(4L) == Seq("a ", " b")) // double space → empty middle word
  }

  test("redactPii replaces every email/URL occurrence with the placeholder tokens") {
    val df = Seq(
      (1L, "mail a.user+x@example.org or b@c.io twice: b@c.io"),
      (2L, "see https://example.org/x and http://b.co end"),
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextAnalysis.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail <EMAIL> or <EMAIL> twice: <EMAIL>") // replace-ALL
    assert(out(2L) == "see <URL> and <URL> end")
    assert(out(3L) == "no pii here at all")
  }

  test("qualityScore in [0,1], penalizes junk") {
    val df = Seq(
      (1, "this is a perfectly reasonable sentence with normal words and structure"),
      (2, "!!!???...;;;:::!!!???...;;;:::"),
      (3, "1234567890 1234567890 1234567890")
    ).toDF("id", "t")
    val out = df.select($"id", TextAnalysis.qualityScore($"t").as("q"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    out.values.foreach(q => assert(q >= 0.0 && q <= 1.0))
    assert(out(1) > out(2))
    assert(out(1) > out(3))
  }

  test("winnowing fingerprints: shared substrings share fingerprints, stable under shift") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val shifted = "PREFIX " + base // same content, shifted position
    val other = "zqxwv jklmn pqrst uvabc defgh ijklo"
    val df = Seq((1L, base), (2L, shifted), (3L, other)).toDF("id", "t")
    val fps = df.select($"id", TextAnalysis.winnowingFingerprints($"t").as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee: long shared substrings → shared fingerprints
    val overlap12 = fps(1L).intersect(fps(2L)).size.toDouble / fps(1L).size
    val overlap13 = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).size
    assert(overlap12 > 0.8, s"shifted copy overlap $overlap12")
    assert(overlap13 < 0.1, s"unrelated overlap $overlap13")
  }

  test("bruteForceTopK ranks by exact cosine") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", Array(1.0, 0.0, 0.0), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L))
  }

  test("cosineNearDupPairs finds the colliding near-identical pair") {
    val vecs = Seq(
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(0.5001f)), // near-identical direction
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        dim = 8, threshold = 0.99, numPlanes = 4, minPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
  }

  test("semanticNearDupPairs == exactly the same-cell pairs passing the exact-cosine verify") {
    // 10 tight clusters of 6 (cos > 0.999 within, well-separated
    // across). The operator's CONTRACT: candidate pairs are precisely
    // the same-cell pairs (one cell per vector, learned quantizer —
    // a split cluster legitimately loses its cross-cell pairs, the
    // nCells-vs-corpus tradeoff SemDeDup tunes), and the verify is
    // exact cosine ≥ threshold. Assert equality against an
    // independent reconstruction from assignCells + driver-side math.
    def center(j: Int) = Array.tabulate(16)(d => math.sin(j * 2.3 + d * 0.91) * 2.0)
    val rows = for (j <- 0 until 10; i <- 0 until 6) yield {
      val v = center(j).zipWithIndex.map { case (c, d) =>
        (c + 0.01 * math.cos(i * 1.7 + d * 0.37 + j)).toFloat
      }
      (j * 6L + i, v)
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val (_, cents) = Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 10)
    val out = Similarity.semanticNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.99, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cellOf = Similarity.assignCells(vecs, "embedding", cents)
      .select($"vec_id", $"_cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byId = rows.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = rows.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      if cellOf(a) == cellOf(b) && cos(byId(a), byId(b)) >= 0.99
    } yield (a, b)).toSet
    assert(out == expected, s"missing ${expected -- out}; spurious ${out -- expected}")
    // the fixture exercises both sides of the claim: some near-dup
    // pairs found, and every found pair is genuinely within-cluster
    assert(expected.size >= 30, s"fixture too weak: ${expected.size} pairs")
    assert(out.forall { case (a, b) => a / 6 == b / 6 }, s"cross-cluster pair in $out")
  }

  test("semanticNearDupPairs: maxCellRows drops pile-up cells from pair enumeration") {
    // one degenerate cell: 30 identical vectors + a clean pair elsewhere
    val pile = (0 until 30).map(i => (i.toLong, Array.fill(8)(0.5f)))
    val clean = Seq((100L, Array.tabulate(8)(d => math.cos(d * 1.1).toFloat)),
      (101L, Array.tabulate(8)(d => (math.cos(d * 1.1) + 0.001).toFloat)))
    val vecs = (pile ++ clean).toDF("vec_id", "embedding")
    val (_, cents) = Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 2)
    val capped = Similarity.semanticNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.9, cents, maxCellRows = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists(p => p._1 < 30 && p._2 < 30), s"pile-up enumerated: $capped")
    assert(capped.contains((100L, 101L)), s"clean pair lost: $capped")
  }

  test("cosineNearDupPairs rejects sub-floor bucket counts unless overridden") {
    val vecs = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    // < 2^8 buckets without an explicit override must throw — the
    // registry query site relies on this guard staying on by default
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        dim = 8, threshold = 0.9, numPlanes = 4)
    }
  }

  test("cosineNearDupPairs recall at two configs; tables monotonically add recall") {
    // 40 true near-dup pairs (small deterministic perturbations, cos≈0.99+)
    // among 80 deterministic decoys. Planes are seed-fixed → recall is
    // deterministic; the bound catches banding/dedup regressions.
    def base(i: Int) = Array.tabulate(16)(j => math.sin(i * 2.7 + j * 1.3))
    val pairs = (0 until 40).flatMap { i =>
      val b = base(i)
      Seq((i * 2L, b.map(_.toFloat)),
        (i * 2L + 1, b.zipWithIndex.map { case (x, j) => (x + 0.02 * math.cos(i + j)).toFloat }))
    }
    val decoys = (0 until 80).map(i => (1000L + i, base(i + 500).map(_.toFloat)))
    val vecs = (pairs ++ decoys).toDF("vec_id", "embedding")
    val truePairs = (0 until 40).map(i => (i * 2L, i * 2L + 1)).toSet
    def recall(numPlanes: Int, numTables: Int): Double = {
      val found = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
          dim = 16, threshold = 0.98, numPlanes = numPlanes, numTables = numTables,
          minPlanes = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      truePairs.count(found.contains).toDouble / truePairs.size
    }
    val r82 = recall(8, 2)
    val r104 = recall(10, 4)
    assert(r82 >= 0.5, s"recall(planes=8, tables=2) = $r82")
    assert(r104 >= 0.5, s"recall(planes=10, tables=4) = $r104")
    // same planes, more tables: candidate set is a superset
    val r101 = recall(10, 1)
    assert(r104 >= r101, s"tables=4 recall $r104 < tables=1 recall $r101")
  }

  test("tfIdfTopTerms matches a hand-computed reference and ranks rare terms first") {
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry cherry"),
      (3L, "apple banana")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(4)) -> (r.getString(1), r.getDouble(3))).toMap
    // df: apple 2, banana 3, cherry 2; idf = round(ln(3/df), 9)
    def idf(df: Int) = BigDecimal(math.log(3.0 / df))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: apple tf=2 -> 2*idf(2) beats cherry 1*idf(2) beats banana 1*idf(3)=0
    assert(out((1L, 1L))._1 == "apple")
    assert(out((1L, 1L))._2 == 2.0 * idf(2))
    assert(out((1L, 2L))._1 == "cherry")
    // doc 2: cherry tf=2 wins; banana idf(3)=0 ranks below
    assert(out((2L, 1L))._1 == "cherry" && out((2L, 2L))._1 == "banana")
    // doc 3: apple (idf>0) above banana (idf=0)
    assert(out((3L, 1L))._1 == "apple")
    assert(out((3L, 2L))._2 == 0.0) // ubiquitous term scores zero
  }

  test("cosineNearDupPairsWithCleanup: hook releases the unit-vector cache after materialization") {
    // data distinct from every other suite/test: an identical plan
    // would hit the CacheManager's already-cached entry and persist
    // would be a no-op, making `added` empty
    val vecs = Seq(
      (41L, Array.fill(8)(0.31f)),
      (42L, Array.fill(8)(0.3101f)),
      (43L, Array.tabulate(8)(i => if (i % 2 == 0) 0.9f else -0.9f))
    ).toDF("vec_id", "embedding")
    // shared test session carries other suites' caches — diff the ids
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (out, cleanup) = Similarity.cosineNearDupPairsWithCleanup(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.99, numPlanes = 4, minPlanes = 2)
    val found = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((41L, 42L))) // materialized before cleanup
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty)
    cleanup()
    assert((spark.sparkContext.getPersistentRDDs.keySet & added).isEmpty)
  }

  test("cosineNearDupPairsBounded: under budget ≡ unbounded; binding budget → representatives") {
    // a 25-vector pile (one bucket per table) + one clean near-dup pair
    val pile = (0L until 25L).map(i => (i, Array.fill(8)(0.7f)))
    val clean = Seq(
      (100L, Array.tabulate(8)(i => if (i % 2 == 0) 0.9f else -0.9f)),
      (101L, Array.tabulate(8)(i => if (i % 2 == 0) 0.9001f else -0.9f)))
    val vecs = (pile ++ clean).toDF("vec_id", "embedding")
    val full = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, numPlanes = 4, numTables = 2, minPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (under, c1) = Similarity.cosineNearDupPairsBounded(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, numPlanes = 4, numTables = 2, minPlanes = 2,
      maxPairs = 1000000000L)
    assert(under.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == full)
    assert(under.clusters.count() == 0L && under.sizeCap == 100000L)
    c1()
    val largest = Similarity.signLshTriples(
        Similarity.unitVecsOf(vecs, "vec_id", "embedding"), "vec_id", 8, 4, 2)
      .groupBy(col("_t"), col("_b")).count().agg(max(col("count"))).head().getLong(0)
    assert(largest >= 25L, s"largest bucket $largest")
    val clusters = ReferenceFormulations.skewCapEdges(spark, largest)(
      cap => {
        val (b, c) = Similarity.cosineNearDupPairsBounded(vecs, "vec_id", "embedding",
          dim = 8, threshold = 0.9, numPlanes = 4, numTables = 2, maxBucketRows = cap,
          minPlanes = 2, maxPairs = 1000000000L)
        b.copy(cleanup = c)
      },
      cap => ReferenceFormulations.cosinePairsAlwaysPruned(vecs, "vec_id", "embedding",
        dim = 8, threshold = 0.9, numPlanes = 4, numTables = 2, maxBucketRows = cap,
        maxPairs = 1000000000L))
    assert(clusters(largest / 2).nonEmpty && clusters(largest).isEmpty)
    // budget below the pile's C(25,2)=300 per table: pile degrades to
    // (id, rep_id), the small clean bucket still pair-enumerates
    val (bound, c2) = Similarity.cosineNearDupPairsBounded(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, numPlanes = 4, numTables = 2, minPlanes = 2,
      maxPairs = 50L)
    val bPairs = bound.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bound.sizeCap < 25L)
    assert(!bPairs.exists { case (a, b) => a < 25L && b < 25L }, s"pile enumerated: $bPairs")
    assert(bPairs.contains((100L, 101L)), s"clean pair lost: $bPairs")
    val reps = bound.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 25L).forall(i => reps.get(i).contains(0L)), s"reps: $reps")
    c2()
  }

  test("semanticNearDupPairsBounded: under budget ≡ unbounded; binding budget → representatives") {
    val pile = (0 until 30).map(i => (i.toLong, Array.fill(8)(0.5f)))
    val clean = Seq((100L, Array.tabulate(8)(d => math.cos(d * 1.1).toFloat)),
      (101L, Array.tabulate(8)(d => (math.cos(d * 1.1) + 0.001).toFloat)))
    val vecs = (pile ++ clean).toDF("vec_id", "embedding")
    val (_, cents) = Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 2)
    val full = Similarity.semanticNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.9, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (under, c1) = Similarity.semanticNearDupPairsBounded(vecs, "vec_id", "embedding",
      threshold = 0.9, cents, maxPairs = 1000000000L)
    assert(under.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == full)
    assert(under.clusters.count() == 0L && under.sizeCap == 100000L)
    c1()
    val largest = Similarity.assignCells(vecs, "embedding", cents)
      .groupBy(col("_cell")).count().agg(max(col("count"))).head().getLong(0)
    assert(largest >= 30L, s"largest cell $largest")
    val clusters = ReferenceFormulations.skewCapEdges(spark, largest)(
      cap => {
        val (b, c) = Similarity.semanticNearDupPairsBounded(vecs, "vec_id", "embedding",
          threshold = 0.9, cents, maxCellRows = cap, maxPairs = 1000000000L)
        b.copy(cleanup = c)
      },
      cap => ReferenceFormulations.semanticPairsAlwaysPruned(vecs, "vec_id", "embedding",
        threshold = 0.9, cents, maxCellRows = cap, maxPairs = 1000000000L))
    assert(clusters(largest / 2).nonEmpty && clusters(largest).isEmpty)
    // budget 10 < C(30,2)=435: the pile cell degrades, the 2-cell pair survives
    val (bound, c2) = Similarity.semanticNearDupPairsBounded(vecs, "vec_id", "embedding",
      threshold = 0.9, cents, maxPairs = 10L)
    val bPairs = bound.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!bPairs.exists(p => p._1 < 30L && p._2 < 30L), s"pile enumerated: $bPairs")
    assert(bPairs.contains((100L, 101L)), s"clean pair lost: $bPairs")
    val reps = bound.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 30L).forall(i => reps.get(i).contains(0L)), s"reps: $reps")
    c2()
  }

  test("cosineNearDupPairs hot-bucket cap drops oversized groups") {
    // 30 identical vectors pile into one bucket per table; with the cap
    // below the pile size no pair from that bucket survives
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(0.7f))).toDF("vec_id", "embedding")
    val capped = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, numPlanes = 4, numTables = 2,
      maxBucketRows = 10L, minPlanes = 2)
    assert(capped.count() == 0L)
    val uncapped = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, numPlanes = 4, numTables = 2, minPlanes = 2)
    assert(uncapped.count() == 30L * 29L / 2L)
  }

  test("ivfTopK recalls the identical vector through cell probing") {
    val q = Array.tabulate(8)(i => 0.3 + 0.1 * i)
    val vecs = (Seq((1L, q.map(_.toFloat))) ++
      (2L to 60L).map(i => (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f))))
      .toDF("vec_id", "embedding")
    val (assigned, centroids) = Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 4)
    val out = Similarity.ivfTopK(assigned, centroids, "vec_id", "embedding",
      q, k = 3, nProbe = 2)
    assert(out.collect().head.getLong(0) == 1L) // exact vector is in the probed cells
  }

  test("lshTopK recalls the identical vector") {
    val q = Array.tabulate(8)(i => 0.3 + 0.1 * i)
    val vecs = (Seq((1L, q.map(_.toFloat))) ++
      (2L to 50L).map(i => (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(vecs, "vec_id", "embedding", q, k = 5, dim = 8)
      .collect().map(_.getLong(0))
    assert(out.head == 1L) // exact match lands in the query's bucket, cosine 1
  }

  test("topTokens ranks by count with lexicographic tie-break, skips empty splits") {
    val docs = Seq(
      (1L, "  b b a a c"), // leading whitespace -> empty token dropped
      (2L, "a b\tz"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topTokens(docs, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 3L), ("b", 3L), ("c", 1L)))
  }
}
