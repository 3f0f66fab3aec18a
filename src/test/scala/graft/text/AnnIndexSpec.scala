package graft.text

import graft.SparkSpec
import graft.io.BuildManifest
import graft.sim.{AnnIndex, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** The ANN serving layout: index structure as partition columns →
  * probe filters become partition pruning, results identical to the
  * compute-on-scan formulations.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, dim: Int) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 1.9 + j * 0.7).toFloat))
    }.toDF("vec_id", "embedding")

  test("IVF: cell-partitioned table returns identical top-k and prunes to probed cells") {
    val emb = vecs(300, 8)
    val q = emb.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")).as("q"))
      .head().getSeq[Double](0).toArray
    val (assigned, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 8)
    val dir = java.nio.file.Files.createTempDirectory("annivf").toString + "/idx"
    AnnIndex.writeIvfIndexed(assigned, cents, dir)
    val indexed = AnnIndex.readIvfIndexed(spark, dir)
    val pruned = AnnIndex.ivfTopKIndexed(indexed, cents, "vec_id", "embedding", q,
      k = 10, nProbe = 3)
    val direct = Similarity.ivfTopK(assigned, cents, "vec_id", "embedding", q,
      k = 10, nProbe = 3)
    assert(pruned.collect().toSeq == direct.collect().toSeq)
    // the probe predicate reaches the scan as a PARTITION filter —
    // unprobed cell directories are never listed
    val p = pruned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("PartitionFilters: \\[[^\\]]*_cell[^\\]]*IN".r.findFirstIn(p).nonEmpty, p)
    // one directory per cell, one file per directory (repartition-by-cell write)
    val cellDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("_cell="))
    assert(cellDirs.length == 8, cellDirs.mkString(","))
    cellDirs.foreach { cd =>
      assert(cd.listFiles().count(_.getName.endsWith(".parquet")) == 1, cd)
    }
  }

  test("LSH: (_t,_b)-partitioned table returns the same top-k as the scan-filter form") {
    val emb = vecs(300, 8)
    val q = emb.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")).as("q"))
      .head().getSeq[Double](0).toArray
    val dir = java.nio.file.Files.createTempDirectory("annlsh").toString + "/idx"
    AnnIndex.writeLshIndexed(emb, "vec_id", "embedding", dir,
      dim = 8, numPlanes = 4, numTables = 2)
    val indexed = AnnIndex.readLshIndexed(spark, dir)
    val pruned = AnnIndex.lshTopKIndexed(indexed, "vec_id", "embedding", q,
      k = 10, numPlanes = 4, numTables = 2)
    val direct = Similarity.lshTopK(emb, "vec_id", "embedding", q,
      k = 10, dim = 8, numPlanes = 4, numTables = 2)
    assert(pruned.collect().toSeq == direct.collect().toSeq)
    val p = pruned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("PartitionFilters: \\[[^\\]]*_t[^\\]]*".r.findFirstIn(p).nonEmpty, p)
    assert(p.contains("_b"), p)
    // partition dirs exist per table; probing reads 1 bucket per table
    val tDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("_t="))
    assert(tDirs.length == 2, tDirs.mkString(","))
  }

  test("serve-path reads (probed dirs only) return identical results to full-table reads") {
    val emb = vecs(300, 8)
    val q = emb.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")).as("q"))
      .head().getSeq[Double](0).toArray
    val ivfDir = java.nio.file.Files.createTempDirectory("annivfsrv").toString + "/idx"
    val (assigned, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 8)
    AnnIndex.writeIvfIndexed(assigned, cents, ivfDir)
    val servedIvf = AnnIndex.ivfTopKServe(spark, ivfDir, cents, "vec_id", "embedding",
      q, k = 10, nProbe = 3)
    val fullIvf = AnnIndex.ivfTopKIndexed(AnnIndex.readIvfIndexed(spark, ivfDir), cents,
      "vec_id", "embedding", q, k = 10, nProbe = 3)
    assert(servedIvf.collect().toSeq == fullIvf.collect().toSeq)
    val lshDir = java.nio.file.Files.createTempDirectory("annlshsrv").toString + "/idx"
    AnnIndex.writeLshIndexed(emb, "vec_id", "embedding", lshDir,
      dim = 8, numPlanes = 4, numTables = 2)
    val servedLsh = AnnIndex.lshTopKServe(spark, lshDir, "vec_id", "embedding",
      q, k = 10, numPlanes = 4, numTables = 2)
    val fullLsh = AnnIndex.lshTopKIndexed(AnnIndex.readLshIndexed(spark, lshDir),
      "vec_id", "embedding", q, k = 10, numPlanes = 4, numTables = 2)
    assert(servedLsh.collect().toSeq == fullLsh.collect().toSeq)
    // a probe that matches no file the manifest names serves an empty
    // top-k with the serving schema. LSH: every vector of this index
    // sits in one bucket per table, and the opposite vector hashes to
    // the complement bucket
    val same = (0L until 20L).map(i => (i, Array.fill(8)(0.4f))).toDF("vec_id", "embedding")
    val oneDir = java.nio.file.Files.createTempDirectory("annlshone").toString + "/idx"
    AnnIndex.writeLshIndexed(same, "vec_id", "embedding", oneDir,
      dim = 8, numPlanes = 4, numTables = 2)
    val away = Array.fill(8)(-0.4)
    val probed = (0 until 2).map(t => s"_t=$t/_b=${Similarity.queryBucket(t, away, 4)}/")
    assert(!BuildManifest.files(oneDir).get.exists(f => probed.exists(f.startsWith)))
    val emptyLsh = AnnIndex.lshTopKServe(spark, oneDir, "vec_id", "embedding",
      away, k = 10, numPlanes = 4, numTables = 2)
    assert(emptyLsh.schema == servedLsh.schema)
    assert(emptyLsh.collect().isEmpty)
    // IVF: the probe's only cell is one no vector was assigned to
    val far = Array.fill(8)(1e3)
    assert(!BuildManifest.files(ivfDir).get.exists(_.startsWith(s"_cell=${cents.length}/")))
    val emptyIvf = AnnIndex.ivfTopKServe(spark, ivfDir, cents :+ far, "vec_id", "embedding",
      far, k = 10, nProbe = 1)
    assert(emptyIvf.schema == servedIvf.schema)
    assert(emptyIvf.collect().isEmpty)
  }

  /** A scratch source dir: the serving-index paths key on the mtime of
    * its embeddings file, whose content the ensure helpers never read. */
  private def scratchSource(): String = {
    val sf = java.nio.file.Files.createTempDirectory("annsrc")
    java.nio.file.Files.createFile(sf.resolve("embeddings.parquet"))
    sf.toString
  }

  private def deleteTree(path: String): Unit =
    scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()

  test("ensureIvfServing refits unless the manifest verifies and names the centroids") {
    val emb = vecs(300, 8)
    val sf = scratchSource()
    var fits = 0
    def ensure() = graft.queries.TextQueries.ensureIvfServing(spark, sf, "c8") {
      fits += 1
      Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 8)
    }
    val (path, cents) = ensure()
    try {
      assert(fits == 1)
      val manifest = new java.io.File(path, "_graft_manifest").toPath
      val centFile = new java.io.File(path, "_centroids.txt").toPath
      assert(BuildManifest.files(path).get.contains("_centroids.txt"))
      // a finished build is reused: same centroids, no refit
      assert(ensure()._2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
      assert(fits == 1)
      // torn centroids: the file no longer has the length the manifest names
      val body = java.nio.file.Files.readAllBytes(centFile)
      java.nio.file.Files.write(centFile, body.take(body.length / 2))
      ensure()
      assert(fits == 2)
      // centroids written after the manifest: the manifest does not name them
      java.nio.file.Files.writeString(manifest, java.nio.file.Files.readString(manifest)
        .linesIterator.filterNot(_.startsWith("_centroids.txt\t")).map(_ + "\n").mkString)
      ensure()
      assert(fits == 3)
      // no manifest: an unfinished build
      java.nio.file.Files.delete(manifest)
      ensure()
      assert(fits == 4)
      assert(ensure()._2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
      assert(fits == 4)
    } finally deleteTree(path)
  }

  test("an index in the earlier versioned-manifest state is rebuilt, never served") {
    // the earlier on-disk state: the data files, the committer's marker,
    // `_graft_manifest.v1` (a bare path list) and its claim file, and no
    // `_graft_manifest`; the IVF index also holds its centroids
    def toEarlierState(dir: String): Unit = {
      val d = new java.io.File(dir)
      val parquet = BuildManifest.files(dir).get.filter(_.endsWith(".parquet"))
      assert(new java.io.File(d, "_graft_manifest").delete())
      java.nio.file.Files.writeString(
        new java.io.File(d, "_graft_manifest.v1").toPath, parquet.mkString("\n"))
      assert(new java.io.File(d, "_graft_manifest.claim.1").createNewFile())
      assert(!BuildManifest.verifies(dir) && BuildManifest.files(dir).isEmpty)
    }
    val emb = vecs(300, 8)
    val q = Array.tabulate(8)(j => math.sin(j * 0.7))
    val sf = scratchSource()
    val lshDir = java.nio.file.Files.createTempDirectory("annlshold").toString + "/idx"
    def serveLsh() = AnnIndex.lshTopKServe(spark, lshDir, "vec_id", "embedding",
      q, k = 10, numPlanes = 4, numTables = 2).collect().toSeq
    var builds = 0
    def ensureLsh() = graft.queries.TextQueries.ensureIndex(sf, lshDir) {
      builds += 1
      AnnIndex.writeLshIndexed(emb, "vec_id", "embedding", lshDir,
        dim = 8, numPlanes = 4, numTables = 2)
    }
    ensureLsh()
    val expected = serveLsh()
    toEarlierState(lshDir)
    intercept[IllegalStateException](serveLsh())
    ensureLsh()
    assert(builds == 2 && BuildManifest.verifies(lshDir))
    assert(serveLsh() == expected && expected.nonEmpty)
    ensureLsh()
    assert(builds == 2)

    var fits = 0
    def ensureIvf() = graft.queries.TextQueries.ensureIvfServing(spark, sf, "c8") {
      fits += 1
      Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 8)
    }
    val (ivfDir, cents) = ensureIvf()
    try {
      toEarlierState(ivfDir)
      intercept[IllegalStateException](AnnIndex.ivfTopKServe(spark, ivfDir, cents,
        "vec_id", "embedding", q, k = 10, nProbe = 3).collect())
      ensureIvf()
      assert(fits == 2 && BuildManifest.verifies(ivfDir))
    } finally deleteTree(ivfDir)
  }

  test("serve-path probes work through URI-schemed paths (file:/)") {
    // readPartitions must resolve existence via Hadoop FileSystem, not
    // java.io.File — a local-only probe sees every `file:/...` dir as
    // missing and silently serves an empty top-k
    val emb = vecs(300, 8)
    val q = emb.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")).as("q"))
      .head().getSeq[Double](0).toArray
    val rawDir = java.nio.file.Files.createTempDirectory("annuri").toString + "/idx"
    val (assigned, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 8)
    AnnIndex.writeIvfIndexed(assigned, cents, rawDir)
    val uriDir = "file:" + rawDir
    val servedUri = AnnIndex.ivfTopKServe(spark, uriDir, cents, "vec_id", "embedding",
      q, k = 10, nProbe = 3).collect().toSeq
    val servedBare = AnnIndex.ivfTopKServe(spark, rawDir, cents, "vec_id", "embedding",
      q, k = 10, nProbe = 3).collect().toSeq
    assert(servedUri.nonEmpty, "URI-schemed serve returned an empty top-k")
    assert(servedUri == servedBare)

    val lshRaw = java.nio.file.Files.createTempDirectory("annurilsh").toString + "/idx"
    AnnIndex.writeLshIndexed(emb, "vec_id", "embedding", lshRaw,
      dim = 8, numPlanes = 4, numTables = 2)
    val lshUri = AnnIndex.lshTopKServe(spark, "file:" + lshRaw, "vec_id", "embedding",
      q, k = 10, numPlanes = 4, numTables = 2).collect().toSeq
    val lshBare = AnnIndex.lshTopKServe(spark, lshRaw, "vec_id", "embedding",
      q, k = 10, numPlanes = 4, numTables = 2).collect().toSeq
    assert(lshUri.nonEmpty && lshUri == lshBare)
  }

  test("LSH indexed probe dedups vectors found by several tables") {
    // identical vectors share every bucket → each appears in both
    // tables' probed partitions; scoring must see each id once
    val emb = (0L until 20L).map(i => (i, Array.fill(8)(0.4f))).toDF("vec_id", "embedding")
    val q = Array.fill(8)(0.4)
    val dir = java.nio.file.Files.createTempDirectory("annlshdup").toString + "/idx"
    AnnIndex.writeLshIndexed(emb, "vec_id", "embedding", dir,
      dim = 8, numPlanes = 4, numTables = 2)
    val out = AnnIndex.lshTopKIndexed(AnnIndex.readLshIndexed(spark, dir),
      "vec_id", "embedding", q, k = 50, numPlanes = 4, numTables = 2).collect()
    assert(out.length == 20, s"got ${out.length} rows")
    assert(out.map(_.getLong(0)).distinct.length == 20)
  }

  test("batched serving: one scan answers the whole batch row-identically to per-query serves") {
    val emb = vecs(300, 8)
    val queries = Seq(0L, 17L, 123L, 250L).map { i =>
      emb.filter($"vec_id" === i)
        .select(transform($"embedding", _.cast("double")).as("q"))
        .head().getSeq[Double](0).toArray
    }
    // batch vs single, per query, rows AND rank order
    val (assigned, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 8)
    val ivfDir = java.nio.file.Files.createTempDirectory("annivfb").toString + "/idx"
    AnnIndex.writeIvfIndexed(assigned, cents, ivfDir)
    val ivfBatch = AnnIndex.ivfTopKServeBatch(spark, ivfDir, cents,
      "vec_id", "embedding", queries, k = 10, nProbe = 3)
      .collect().groupBy(_.getInt(0))
    queries.zipWithIndex.foreach { case (q, qid) =>
      val single = AnnIndex.ivfTopKServe(spark, ivfDir, cents, "vec_id", "embedding",
        q, k = 10, nProbe = 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = ivfBatch(qid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(batch == single, s"ivf qid=$qid: $batch != $single")
    }
    // the non-serve batched form still prunes: the chunk-union probe
    // predicate reaches the scan as a PartitionFilter
    val prunedPlan = AnnIndex.ivfTopKIndexedBatch(
      AnnIndex.readIvfIndexed(spark, ivfDir), cents,
      "vec_id", "embedding", queries, k = 10, nProbe = 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("PartitionFilters: \\[[^\\]]*_cell[^\\]]*IN".r.findFirstIn(prunedPlan).nonEmpty,
      prunedPlan)
    // tiny forced chunks reproduce the one-chunk batch exactly
    val prev = sys.props.get("graft.ann.recallChunk")
    sys.props("graft.ann.recallChunk") = "2"
    try {
      val chunked = AnnIndex.ivfTopKServeBatch(spark, ivfDir, cents,
        "vec_id", "embedding", queries, k = 10, nProbe = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val whole = ivfBatch.values.flatten
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(chunked == whole)
    } finally prev match {
      case Some(x) => sys.props("graft.ann.recallChunk") = x
      case None    => sys.props -= "graft.ann.recallChunk"
    }
  }

  test("suggestCells: √n-pow2 corpus rule — 16 at the oracle gate, non-saturating at scale") {
    assert(Similarity.suggestCells(0L) == 16)
    assert(Similarity.suggestCells(500L) == 16)       // sf0.01 embeddings (gate)
    assert(Similarity.suggestCells(2000L) == 32)      // sf0.1
    assert(Similarity.suggestCells(20000L) == 128)    // sf1
    assert(Similarity.suggestCells(200000L) == 512)   // sf10
    assert(Similarity.suggestCells(2000000L) == 1024) // sf100 (clamp)
    assert(Similarity.suggestCells(Long.MaxValue / 4) == 1024)
  }
}
