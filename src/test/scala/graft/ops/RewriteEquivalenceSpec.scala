package graft.ops

import graft.SparkSpec
import graft.sim.Similarity
import graft.text.{Dedup, DedupIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalatest.Assertions.assert
import org.scalacheck.rng.Seed

/** Reference formulations of operators whose production plans were
  * rewritten for fewer input references. They live only here, as the
  * specification the rewrites must reproduce row for row. */
object ReferenceFormulations {

  /** Min-valid as count per (id, group) → max per id → left-semi join
    * back on the id. */
  def minimumValidValuesSemiJoin(
      df: DataFrame, idCols: Seq[String], groupCols: Seq[String],
      valueCol: String, n: Long): DataFrame = {
    val keep = df
      .groupBy((idCols ++ groupCols).map(col): _*)
      .agg(count(col(valueCol)).as("_valid"))
      .groupBy(idCols.map(col): _*)
      .agg(max(col("_valid")).as("_max_valid"))
      .filter(col("_max_valid") >= n)
      .select(idCols.map(col): _*)
    df.join(keep, idCols, "left_semi")
  }

  /** Side-table expand as one projection per multiplicity, unioned. */
  def expandSideTableUnion(df: DataFrame, suffixes: Seq[String] = Seq("___1", "___2", "___3"),
      idCol: String = "id"): DataFrame = {
    val suffixed = df.columns.filter(c => suffixes.exists(c.endsWith))
    val stripped = suffixed.map(c =>
      suffixes.find(c.endsWith).map(c.stripSuffix).getOrElse(c)).toSet
    val base = df.columns.filterNot(suffixed.contains)
      .filterNot(c => c != idCol && stripped.contains(c))
    val valueBases = suffixed.map(c =>
      suffixes.find(c.endsWith).map(c.stripSuffix).getOrElse(c)).distinct
    def typeOf(baseName: String) =
      df.schema(df.columns.find(c =>
        suffixes.exists(s => c == baseName + s)).get).dataType
    val branches = suffixes.map { sfx =>
      val renamed = valueBases.map { b =>
        if (df.columns.contains(b + sfx)) col(b + sfx).as(b)
        else lit(null).cast(typeOf(b)).as(b)
      }
      val baseCols = base.map {
        case c if c == idCol => concat(col(idCol).cast("string"), lit(sfx)).as(idCol)
        case c               => col(c)
      }
      df.select(baseCols.toIndexedSeq ++ renamed: _*)
        .withColumn("Multiplicity", lit(sfx.stripPrefix("___").toInt))
    }
    branches.reduce(_ unionByName _)
  }

  /** Near-dup index probe as Spark-side batch frames: the batch's
    * signatures and banded triples stay unmaterialised (each reference
    * recomputes them), the corpus's banded triples come from the
    * stored mh_* columns through [[Dedup.bandedTriples]], the broadcast
    * gate is a `head()` over a second histogram pass, and the bucket
    * cap is a semi-join. */
  def dedupIndexProbePairs(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketRows: Long = DedupIndex.DefaultMaxBucketRows,
      maxLocalCandidates: Long = DedupIndex.DefaultMaxLocalCandidates): DataFrame = {
    val batchSigs = Dedup.minHashSignatures(batch, idCol, textCol, numHashes)
      .filter(col("mh_0").isNotNull)
    val batchBanded = Dedup.bandedTriples(batchSigs, idCol, numHashes, bands)
      .withColumnRenamed(idCol, "batch_id")
    // the corpus side from the stored signatures alone: its triples are
    // recomputed from mh_*, never read from the stored band keys
    val sigsRaw = spark.read.parquet(s"$path/sigs")
      .select(col(idCol) +: (0 until numHashes).map(i => col(s"mh_$i")): _*)
    val corpusBands = Dedup.bandedTriples(sigsRaw, idCol, numHashes, bands)
    val probed = corpusBands
      .join(broadcast(batchBanded.select(col("band_idx"), col("band_hash")).distinct()),
        Seq("band_idx", "band_hash"), "left_semi")
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("_bn"))
    val okBuckets = probed.filter(col("_bn") <= maxBucketRows)
      .select(col("band_idx"), col("band_hash"))
    val batchOk = batchBanded
      .join(broadcast(okBuckets), Seq("band_idx", "band_hash"), "left_semi")
    val batchPerBucket = batchBanded
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("_bb"))
    val candUpperBound = probed
      .filter(col("_bn") <= maxBucketRows)
      .join(broadcast(batchPerBucket), Seq("band_idx", "band_hash"))
      .agg(coalesce(sum(col("_bn") * col("_bb")), lit(0L)))
      .head().getLong(0)
    val bcast: DataFrame => DataFrame =
      if (candUpperBound <= maxLocalCandidates) broadcast else identity
    val cand = corpusBands
      .join(bcast(batchOk), Seq("band_idx", "band_hash"))
      .select(col(idCol).as("corpus_id"), col("batch_id"))
      .distinct()
    val corpusSigs = sigsRaw.toDF(sigsRaw.columns.map(c =>
      if (c == idCol) "corpus_id" else s"a_$c").toIndexedSeq: _*)
    val bSigs = batchSigs.toDF(batchSigs.columns.map(c =>
      if (c == idCol) "batch_id" else s"b_$c").toIndexedSeq: _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    corpusSigs
      .join(bcast(cand), Seq("corpus_id"))
      .join(broadcast(bSigs), Seq("batch_id"))
      .select(col("corpus_id"), col("batch_id"),
        (agree.cast("double") / numHashes).as("est_jaccard"))
  }

  /** Runs `body` at `partitions` shuffle partitions with partition
    * coalescing off, restoring both settings afterwards. */
  def withShufflePartitions[A](spark: SparkSession, partitions: Int)(body: => A): A = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), partitions.toString)
    spark.conf.set(keys(1), "false")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A bounded operator's (pairs, clusters, sizeCap), the frames as row
    * sets, built and collected at `partitions` shuffle partitions. */
  def boundedResult(spark: SparkSession, partitions: Int)(
      op: => BoundedPairs): (Set[Row], Set[Row], Long) =
    withShufflePartitions(spark, partitions) {
      val b = op
      try (b.pairs.collect().toSet, b.clusters.collect().toSet, b.sizeCap)
      finally b.cleanup()
    }

  /** The two skew-cap edges of a bounded operator against its
    * always-pruned reference, at 1 and 7 shuffle partitions: a skew cap
    * at half the largest bucket (only it binds; the budget is open) and
    * one equal to the largest bucket (nothing binds). Asserts equal
    * (pairs, clusters, sizeCap) and returns the operator's clusters per
    * skew cap, for the caller's own checks. */
  def skewCapEdges(spark: SparkSession, largest: Long)(
      op: Long => BoundedPairs, ref: Long => BoundedPairs): Map[Long, Set[Row]] =
    (for (cap <- Seq(largest / 2, largest); p <- Seq(1, 7)) yield {
      val got = boundedResult(spark, p)(op(cap))
      assert(got == boundedResult(spark, p)(ref(cap)),
        s"skew cap $cap, largest bucket $largest, $p partitions")
      cap -> got._2
    }).toMap

  /** The pair-budget cap from an `orderBy`-sorted histogram of the
    * non-singleton buckets, walked smallest-first. */
  def pairBudgetCapSorted(bucketSizes: DataFrame, nCol: String, maxPairs: Long): Long = {
    val hist = bucketSizes
      .filter(col(nCol) > 1)
      .groupBy(col(nCol).as("_size"))
      .agg(sum((col(nCol).cast("decimal(38,0)") * (col(nCol) - 1).cast("decimal(38,0)")) / 2)
        .as("_pairs"))
      .orderBy(col("_size"))
      .collect()
    var spent = BigInt(0)
    var cap = Long.MaxValue
    var i = 0
    while (i < hist.length && cap == Long.MaxValue) {
      val p = BigInt(hist(i).getDecimal(1).toBigInteger)
      if (spent + p > BigInt(maxPairs)) cap = math.max(hist(i).getLong(0) - 1, 1L)
      else spent += p
      i += 1
    }
    cap
  }

  // The five budgeted near-dup forms with no budget short-cut: the
  // pair join is cap-pruned and the representative clusters planned
  // whatever the bucket histogram shows.

  /** Effective cap from the sorted histogram, pair join pruned at it,
    * representatives built at it. */
  private def alwaysPruned(
      members: DataFrame, keys: Seq[String], idCol: String,
      sizes: DataFrame, nCol: String, skewCap: Long, maxPairs: Long)(
      pairJoin: Long => DataFrame): BoundedPairs = {
    val cap = math.min(skewCap, pairBudgetCapSorted(sizes, nCol, maxPairs))
    BoundedPairs(pairJoin(cap), PairBudget.representatives(members, keys, idCol, cap), cap)
  }

  def minHashPairsAlwaysPruned(
      signatures: DataFrame, idCol: String, numHashes: Int = 32, bands: Int = 8,
      maxBucketRows: Long = 100000L, maxPairs: Long = 10000000L): BoundedPairs = {
    val banded = Dedup.bandedTriples(signatures, idCol, numHashes, bands)
    alwaysPruned(banded, Seq("band_idx", "band_hash"), idCol,
      Dedup.bucketCounts(banded), "_bn", maxBucketRows, maxPairs)(
      Dedup.bandPairJoin(banded, idCol, _))
  }

  def simHashPairsAlwaysPruned(
      sims: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3, blocks: Int = 4,
      maxBucketRows: Long = 100000L, maxPairs: Long = 10000000L): BoundedPairs = {
    val blocked = Dedup.simHashBlocked(sims, idCol, simhashCol, blocks)
    val keys = Seq("block_idx", "block_val")
    alwaysPruned(blocked, keys, idCol,
      blocked.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_bn")), "_bn",
      maxBucketRows, maxPairs)(
      Dedup.simHashPairJoin(blocked, idCol, simhashCol, maxHamming, _))
  }

  /** The span form keeps its df cap: grams over `maxDocFreq` are
    * dropped before the budget, and the representatives come from the
    * histogram's over-cap gram set. */
  def sharedSpanPairsAlwaysPruned(
      df: DataFrame, idCol: String, textCol: String, k: Int, w: Int,
      maxDocFreq: Long, minShared: Long, maxPairs: Long,
      rollingHash: Boolean = Dedup.defaultRollingHash): BoundedPairs = {
    val sel = Dedup.selectedGrams(df, idCol, textCol, k, w, rollingHash)
    val sizes = Dedup.gramDocFreq(sel)
    val informative = sel.join(
      sizes.filter(col("_df") <= maxDocFreq).select(col("_gram")), Seq("_gram"), "left_semi")
    val cap = math.min(maxDocFreq,
      pairBudgetCapSorted(sizes.filter(col("_df") <= maxDocFreq), "_df", maxPairs))
    BoundedPairs(
      Dedup.spanPairJoin(informative, sizes, cap, minShared),
      PairBudget.representativesWith(informative, Seq("_gram"), idCol,
        sizes.filter(col("_df") <= maxDocFreq && col("_df") > cap).select(col("_gram"))),
      cap)
  }

  def cosinePairsAlwaysPruned(
      embeddings: DataFrame, idCol: String, vecCol: String, dim: Int, threshold: Double,
      numPlanes: Int, numTables: Int, maxBucketRows: Long = 100000L,
      maxPairs: Long = 10000000L): BoundedPairs = {
    val unitVecs = Similarity.unitVecsOf(embeddings, idCol, vecCol)
    val banded = Similarity.signLshTriples(unitVecs, idCol, dim, numPlanes, numTables)
    val keys = Seq("_t", "_b")
    val sizes = banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_bn"))
    alwaysPruned(banded, keys, idCol, sizes, "_bn", maxBucketRows, maxPairs)(cap =>
      Similarity.cosineVerify(
        Similarity.bucketCandidates(banded, keys, idCol, sizes, "_bn", cap).distinct(),
        unitVecs, idCol, threshold))
  }

  def semanticPairsAlwaysPruned(
      embeddings: DataFrame, idCol: String, vecCol: String, threshold: Double,
      centroids: Array[Array[Double]], maxCellRows: Long = 100000L,
      maxPairs: Long = 10000000L): BoundedPairs = {
    val cells = Similarity.assignCells(embeddings, vecCol, centroids)
      .select(col(idCol), col("_cell"))
    val sizes = cells.groupBy(col("_cell")).agg(count(lit(1)).as("_cn"))
    alwaysPruned(cells, Seq("_cell"), idCol, sizes, "_cn", maxCellRows, maxPairs)(cap =>
      Similarity.cosineVerify(
        Similarity.bucketCandidates(cells, Seq("_cell"), idCol, sizes, "_cn", cap),
        Similarity.unitVecsOf(embeddings, idCol, vecCol), idCol, threshold))
  }
}

class RewriteEquivalenceSpec extends SparkSpec {
  import spark.implicits._
  import ReferenceFormulations._

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  /** Row multiset with a bit-exact rendering of every cell: `-0.0` and
    * `0.0` stay distinct, NaN renders as itself, NULL as "null". */
  private def multiset(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => r.toSeq.map(String.valueOf).mkString("\u0001")).sorted

  private def schemaOf(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(multiset(got) == multiset(want))
  }

  // ---- minimumValidValuesInAnyGroup ----

  private val nullableValue: Gen[Option[Double]] =
    Gen.frequency(3 -> Gen.some(Gen.choose(-5.0, 5.0)), 2 -> Gen.const(None))

  private def longRows[I](ids: Gen[I]): Gen[List[(I, Option[String], Option[Double])]] =
    Gen.choose(0, 40).flatMap(k => Gen.listOfN(k, for {
      id <- ids
      g <- Gen.frequency(5 -> Gen.some(Gen.oneOf("Control", "Treat", "Other")), 1 -> Gen.const(None))
      v <- nullableValue
    } yield (id, g, v)))

  private def checkMinValid(df: DataFrame, idCols: Seq[String], groupCols: Seq[String]): Unit =
    (0L to 3L).foreach { n =>
      assertSameRows(
        Filters.minimumValidValuesInAnyGroup(df, idCols, groupCols, "value", n),
        minimumValidValuesSemiJoin(df, idCols, groupCols, "value", n))
    }

  test("min-valid matches count + semi-join: string ids with NULL ids, NULL groups, n = 0..3") {
    val ids = Gen.frequency(6 -> Gen.some(Gen.oneOf("f1", "f2", "f3", "f4", "f5")), 1 -> Gen.const(None))
    samples(longRows(ids), 8, 300L).foreach { rows =>
      checkMinValid(rows.toDF("id", "Group", "value"), Seq("id"), Seq("Group"))
    }
  }

  test("min-valid matches count + semi-join: double ids with NaN, -0.0, 0.0 and NULL") {
    val ids = Gen.oneOf(Some(Double.NaN), Some(-0.0), Some(0.0), Some(1.5), Some(-2.0), None)
    samples(longRows(ids), 8, 400L).foreach { rows =>
      checkMinValid(rows.toDF("id", "Group", "value"), Seq("id"), Seq("Group"))
    }
  }

  test("min-valid matches count + semi-join: multi-column id (id, Group) as silacRatio calls it") {
    val ids = Gen.frequency(6 -> Gen.some(Gen.choose(1, 4)), 1 -> Gen.const(None))
    samples(longRows(ids), 8, 500L).foreach { rows =>
      checkMinValid(rows.toDF("id", "Group", "value"), Seq("id", "Group"), Seq("Group"))
    }
  }

  test("min-valid matches count + semi-join: two group columns, all-null values, empty input") {
    val rows = Seq(
      (Option(1), Option("a"), Option(1), Option.empty[Double]),
      (Option(1), Option("a"), Option(2), Option.empty[Double]),
      (Option(2), Option.empty[String], Option(1), Option.empty[Double]),
      (Option.empty[Int], Option("b"), Option(1), Option.empty[Double]))
    val allNull = rows.toDF("id", "Group", "Replicate", "value")
    checkMinValid(allNull, Seq("id"), Seq("Group", "Replicate"))
    checkMinValid(allNull.limit(0), Seq("id"), Seq("Group", "Replicate"))
    val mixed = samples(longRows(Gen.some(Gen.choose(1, 3))), 4, 600L).flatten
      .zipWithIndex.map { case ((id, g, v), i) => (id, g, Option(i % 2), v) }
      .toDF("id", "Group", "Replicate", "value")
    checkMinValid(mixed, Seq("id"), Seq("Group", "Replicate"))
  }

  // ---- expandSideTable ----

  private val cell: Gen[Option[Double]] =
    Gen.frequency(3 -> Gen.some(Gen.choose(0.0, 1e6)), 1 -> Gen.const(None))

  /** A MaxQuant-shaped wide frame: `id`, a plain protein column, a
    * plain summary column whose name collides with a value base when
    * `collide`, and two value bases (`Intensity A`, `Mass error [ppm]`)
    * present under a random subset of the three suffixes. */
  private def wideFrame(rows: Int, present: Seq[String], withId: Boolean,
      collide: Boolean, seed: Long): DataFrame = {
    val bases = Seq("Intensity A", "Mass error [ppm]")
    val valueCols = for (b <- bases; s <- present) yield s"$b$s"
    val plain = Seq("Proteins") ++ (if (collide) Seq("Intensity A") else Nil) ++ Seq("Intensity")
    val names = (if (withId) Seq("id") else Nil) ++ plain ++ valueCols
    val gen = Gen.listOfN(rows, Gen.listOfN(plain.size + valueCols.size, cell))
    val data = gen.pureApply(Gen.Parameters.default, Seed(seed)).zipWithIndex.map { case (cs, i) =>
      val plainCells = cs.take(plain.size).zipWithIndex.map {
        case (_, 0) => s"P$i"
        case (c, _) => c.map(Double.box).orNull
      }
      Row.fromSeq((if (withId) Seq(i.toLong) else Nil) ++ plainCells ++
        cs.drop(plain.size).map(_.map(Double.box).orNull))
    }
    val schema = StructType(names.map { n =>
      val t = n match {
        case "id"       => LongType
        case "Proteins" => StringType
        case _          => DoubleType
      }
      StructField(n, t, nullable = true)
    })
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private def checkExpand(df: DataFrame): Unit = {
    val got = Reshape.expandSideTable(df)
    val want = expandSideTableUnion(df)
    assert(schemaOf(got) == schemaOf(want), s"${got.schema} vs ${want.schema}")
    assertSameRows(got, want)
  }

  test("expandSideTable matches per-multiplicity union: schema (names, order, types) and rows") {
    val suffixSets = Seq(
      Seq("___1", "___2", "___3"),
      Seq("___1", "___3"), // ___2 absent: typed all-null cells
      Seq("___2"))
    for {
      (present, i) <- suffixSets.zipWithIndex
      withId <- Seq(true, false)
      collide <- Seq(false, true)
    } checkExpand(wideFrame(6, present, withId, collide, 700L + i))
  }

  test("expandSideTable matches per-multiplicity union: no suffixed columns, empty input, Multiplicity input column") {
    checkExpand(Seq((1L, "P1", 2.0)).toDF("id", "Proteins", "Intensity"))
    checkExpand(wideFrame(0, Seq("___1", "___2", "___3"), withId = true, collide = true, 800L))
    checkExpand(Seq((1L, 7, 2.0, 3.0)).toDF("id", "Multiplicity", "Intensity A___1", "Intensity A___3"))
  }
}
