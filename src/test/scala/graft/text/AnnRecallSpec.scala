package graft.text

import graft.SparkSpec
import graft.sim.{AnnRecall, Similarity}
import graft.sim.AnnRecall.AnnConfig

/** Measured recall@k for the ANN family. The fixture is CLUSTERED
  * (20 tight clusters of 25 points) — the regime ANN serves: a query's
  * exact top-k is its cluster, and the index must retrieve it. On
  * near-uniform data (the synthetic embeddings table) recall is
  * structurally low for ANY sublinear index — BENCH_NOTES.md records
  * those numbers per round ("Round-5: measured ANN recall@20" and its
  * follow-ups); floors here are asserted
  * where they are meaningful.
  */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  // deterministic clustered corpus: id j*25+i is point i of cluster j
  private lazy val clustered = {
    val rows = for (j <- 0 until 20; i <- 0 until 25) yield {
      val center = Array.tabulate(dim)(d => math.sin(j * 2.3 + d * 0.91) * 2.0)
      val v = center.zipWithIndex.map { case (c, d) =>
        (c + 0.05 * math.cos(i * 1.7 + d * 0.37 + j)).toFloat
      }
      (j * 25L + i, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private val queryIds = Seq(0L, 30L, 111L, 260L, 420L)

  // 200 clusters of 25 (5000 vectors) — ten times the headline fixture
  private lazy val clustered10x = {
    val rows = for (j <- 0 until 200; i <- 0 until 25) yield {
      val center = Array.tabulate(dim)(d => math.sin(j * 2.3 + d * 0.91) * 2.0)
      val v = center.zipWithIndex.map { case (c, d) =>
        (c + 0.05 * math.cos(i * 1.7 + d * 0.37 + j)).toFloat
      }
      (j * 25L + i, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def withChunk[A](n: Int)(body: => A): A = {
    val prev = sys.props.get("graft.ann.recallChunk")
    sys.props("graft.ann.recallChunk") = n.toString
    try body finally prev match {
      case Some(v) => sys.props("graft.ann.recallChunk") = v
      case None    => sys.props -= "graft.ann.recallChunk"
    }
  }

  test("clustered regime: every ANN method recalls most of the exact top-k at defaults") {
    val r = AnnRecall.measure(clustered, "vec_id", "embedding", dim,
      queryIds, k = 20, AnnConfig())
    assert(r("lsh") >= 0.90, s"lsh recall ${r("lsh")}")
    assert(r("ivf") >= 0.90, s"ivf recall ${r("ivf")}")
    assert(r("pq") >= 0.70, s"pq recall ${r("pq")}")
    assert(r("ivfpq") >= 0.60, s"ivfpq recall ${r("ivfpq")}")
  }

  test("recall knobs move the right way: more tables ≥ fewer; full probe is exact") {
    val few = AnnRecall.measure(clustered, "vec_id", "embedding", dim,
      queryIds, k = 20, AnnConfig(numTables = 1))
    val many = AnnRecall.measure(clustered, "vec_id", "embedding", dim,
      queryIds, k = 20, AnnConfig(numTables = 4))
    // exact scoring over a SUPERSET candidate pool: recall is monotone
    assert(many("lsh") >= few("lsh"), s"${many("lsh")} < ${few("lsh")}")
    // probing every cell degenerates IVF to brute force — recall 1.0
    val full = AnnRecall.measure(clustered, "vec_id", "embedding", dim,
      queryIds, k = 20, AnnConfig(nCells = 16, nProbe = 16))
    assert(full("ivf") == 1.0, s"full-probe ivf recall ${full("ivf")}")
  }

  test("clustered floors are corpus-size-independent: 10x the corpus, same defaults, same floors") {
    // ten times the headline fixture, UNCHANGED index config. A tight
    // cluster still lands in one IVF cell / shares LSH buckets
    // regardless of how many other clusters exist, so the defaults
    // floors must not decay with corpus growth (the 100 TB claim in
    // miniature). Only the quantizers' codebook error is
    // corpus-sensitive, hence their lower floors stay as-is.
    val big = clustered10x
    // same query POSITIONS (cluster 0 head, mid-cluster members) plus
    // deep-corpus members only the 10x fixture has
    val qids = Seq(0L, 30L, 111L, 2600L, 4920L)
    val r = AnnRecall.measure(big, "vec_id", "embedding", dim,
      qids, k = 20, AnnConfig())
    assert(r("lsh") >= 0.90, s"lsh recall ${r("lsh")}")
    assert(r("ivf") >= 0.90, s"ivf recall ${r("ivf")}")
    // the QUANTIZERS are the corpus-sensitive family: 16 centroids per
    // subspace cannot code 200 cluster modes (measured ~0.47 here vs
    // 0.70+ at 1x) — scaling the codebook with the corpus is the
    // documented contract, and restores the 1x floors
    val rk = AnnRecall.measure(big, "vec_id", "embedding", dim,
      qids, k = 20, AnnConfig(codebookK = 128))
    assert(rk("pq") >= 0.70, s"pq recall ${rk("pq")} at codebookK=128")
    assert(rk("ivfpq") >= 0.60, s"ivfpq recall ${rk("ivfpq")} at codebookK=128")
  }

  test("production PQ knobs (k=256) hold the quantizer floors on the 10x corpus where k=16 decays") {
    // the round-12 verdict's PQ-fidelity item: tiny codebooks are an
    // ORACLE constraint, not a production default. At 200 cluster
    // modes, k=16 measures ~0.47 pq recall; the production config
    // (faiss-standard k=256, fit on 64 samples/centroid) must restore
    // the 1x floors — the spec-scale twin of the sf10 audit row.
    val qids = Seq(0L, 30L, 111L, 2600L, 4920L)
    val r = AnnRecall.measure(clustered10x, "vec_id", "embedding", dim,
      qids, k = 20,
      AnnConfig(codebookK = 256, pqSampleN = 5000, pqIters = 8, refineK = 100))
    assert(r("pq") >= 0.70, s"pq recall ${r("pq")} at production knobs")
    assert(r("ivfpq") >= 0.60, s"ivfpq recall ${r("ivfpq")} at production knobs")
    // the refine stage (exact re-rank over the ADC top-100 pool) can
    // only help, and on the clustered regime it should be near-exact
    assert(r("pq_refined") >= r("pq"), s"${r("pq_refined")} < ${r("pq")}")
    assert(r("ivfpq_refined") >= r("ivfpq"), s"${r("ivfpq_refined")} < ${r("ivfpq")}")
    assert(r("pq_refined") >= 0.95, s"pq_refined ${r("pq_refined")}")
  }

  test("production operating point (nProbe=8): ivfpq_refined holds the sweep-chosen floor") {
    // the round-14 sf10 nProbe sweep (BENCH_NOTES) picked nProbe=8 as
    // the production knob: ivfpq_refined recall@20 0.881 at ~parity
    // serve cost vs nProbe=4's 0.700 (the IVF cell ceiling, not the
    // quantizer, was the binding constraint at nProbe=4). Pin the
    // spec-scale twin: doubling the probe width must lift the refined
    // quantizer past the 0.85 bar on the 10x clustered corpus too.
    val qids = Seq(0L, 30L, 111L, 2600L, 4920L)
    val r = AnnRecall.measure(clustered10x, "vec_id", "embedding", dim,
      qids, k = 20,
      AnnConfig(nProbe = 8, codebookK = 256, pqSampleN = 5000, pqIters = 8,
        refineK = 100))
    assert(r("ivf") >= 0.90, s"ivf ceiling ${r("ivf")} at nProbe=8")
    assert(r("ivfpq_refined") >= 0.85, s"ivfpq_refined ${r("ivfpq_refined")} at nProbe=8")
  }

  test("chunking is invisible: forced 2-query chunks reproduce the one-chunk recalls exactly") {
    // 5 queries in one chunk vs three chunks of ≤2: the per-chunk qids
    // are disjoint and each chunk runs the identical expression tree,
    // so every method's recall must be bit-equal, not just close
    val one = AnnRecall.measure(clustered, "vec_id", "embedding", dim,
      queryIds, k = 20, AnnConfig())
    val tiny = withChunk(2) {
      AnnRecall.measure(clustered, "vec_id", "embedding", dim,
        queryIds, k = 20, AnnConfig())
    }
    assert(tiny == one, s"chunked $tiny != unchunked $one")
  }

  test("a 1000-query eval set completes through the chunked path with clustered-regime recall") {
    // 1000 struct literals in ONE projection would trip Janino's 64KB
    // method limit (the round-12 caveat); the chunking keeps each
    // generated method bounded while the recall semantics match the
    // headline tests. Codegen fallback is off, so a chunk too large to
    // compile fails here instead of running interpreted. One query per
    // 5 ids spans all 200 clusters.
    val qids = (0 until 1000).map(i => (i * 5).toLong)
    val fallback = "spark.sql.codegen.fallback"
    val saved = spark.conf.getOption(fallback)
    spark.conf.set(fallback, "false")
    val r = try AnnRecall.measure(clustered10x, "vec_id", "embedding", dim,
      qids, k = 10, AnnConfig())
    finally saved match {
      case Some(v) => spark.conf.set(fallback, v)
      case None    => spark.conf.unset(fallback)
    }
    assert(r.keySet == Set("lsh", "ivf", "pq", "ivfpq"))
    assert(r("lsh") >= 0.90, s"lsh recall ${r("lsh")}")
    assert(r("ivf") >= 0.90, s"ivf recall ${r("ivf")}")
  }

  test("uniform regime sanity: IVF beats the random-probing baseline") {
    // 500 near-uniform vectors (the synthetic-table regime): nProbe/nCells
    // random directories would recall ~25%; the learned cells must beat it
    val uniform = (0 until 500).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 1.9 + d * 0.7).toFloat))
    }.toDF("vec_id", "embedding")
    val r = AnnRecall.measure(uniform, "vec_id", "embedding", dim,
      Seq(0L, 7L, 42L, 99L), k = 20, AnnConfig())
    assert(r("ivf") > 0.25, s"ivf recall ${r("ivf")} not above the 4/16-probe baseline")
  }
}
