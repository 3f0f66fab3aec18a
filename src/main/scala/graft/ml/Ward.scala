package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ward hierarchical clustering of SAMPLES (ref visualize.py:1665-1730
  * `_cluster`/`_optimize_clusters`: scipy pdist → ward linkage →
  * fcluster).
  *
  * Scale split (SURVEY §4.2): the pairwise distance matrix over
  * samples is computed DISTRIBUTED (self-join on the feature id — the
  * only pass over table-scale data); the s×s agglomeration itself is
  * driver-side (s ≤ 10³ ⇒ ≤10⁶ cells — trivially small). Exact
  * Lance-Williams Ward update keeps parity with scipy.
  */
object Ward {

  /** Squared euclidean distances between samples over the long form:
    * d²(a,b) = Σ_f (x_fa - x_fb)². Nulls zero-filled first (the
    * reference pdist runs on the zero-filled matrix), then a single
    * groupBy(feature) + in-row pair expansion (StatTests
    * .pairObservations) — one shuffle instead of a double-scan
    * self-join. */
  def pairwiseSqDist(
      df: DataFrame, idCol: String, sampleCol: String, valueCol: String): DataFrame =
    graft.stats.StatTests.pairObservations(
        df.withColumn(valueCol, coalesce(col(valueCol), lit(0.0))),
        Seq(idCol), sampleCol, valueCol)
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1").as("sa"), col("s2").as("sb"))
      // exact-decimal sum of squared diffs: distances (hence linkage,
      // hence recorded cluster assignments and any oracle built on
      // them) do not depend on partition accumulation order
      .agg(graft.stats.Moments.sumWide((col("x") - col("y")) * (col("x") - col("y")), 10).as("sqdist"))

  final case class Merge(a: Int, b: Int, dist: Double, size: Int)

  /** Driver-side Ward agglomeration (Lance–Williams recurrence),
    * matching scipy.cluster.hierarchy.linkage(method='ward') on the
    * same distance matrix. Input: square symmetric sqdist matrix. */
  def linkage(sq: Array[Array[Double]]): Seq[Merge] = {
    val n = sq.length
    // active cluster distances (Ward works on squared euclidean /2 form;
    // scipy reports sqrt of the Ward objective)
    val d = Array.tabulate(n, n)((i, j) => sq(i)(j))
    val size = Array.fill(2 * n - 1)(1)
    val active = scala.collection.mutable.Set((0 until n): _*)
    val idOf = Array.tabulate(2 * n - 1)(identity)
    var next = n
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val cur = scala.collection.mutable.Map[(Int, Int), Double]()
    for (i <- 0 until n; j <- i + 1 until n) cur((i, j)) = d(i)(j)
    def dist(i: Int, j: Int): Double = cur(if (i < j) (i, j) else (j, i))
    def setDist(i: Int, j: Int, v: Double): Unit =
      cur(if (i < j) (i, j) else (j, i)) = v

    val slot = scala.collection.mutable.Map((0 until n).map(i => i -> i): _*)
    while (active.size > 1) {
      // find closest pair (ward distance = sqrt of stored objective)
      var best = (-1, -1); var bd = Double.MaxValue
      val act = active.toSeq.sorted
      for (ii <- act.indices; jj <- ii + 1 until act.size) {
        val dv = dist(act(ii), act(jj))
        if (dv < bd) { bd = dv; best = (act(ii), act(jj)) }
      }
      val (a, b) = best
      val sa = size(idOf(a)); val sb = size(idOf(b))
      merges += Merge(idOf(a), idOf(b), math.sqrt(bd), sa + sb)
      // Lance-Williams Ward update against every other active cluster
      for (k <- active if k != a && k != b) {
        val sk = size(idOf(k))
        val newD = ((sa + sk).toDouble * dist(a, k) + (sb + sk).toDouble * dist(b, k) -
          sk.toDouble * bd) / (sa + sb + sk).toDouble
        setDist(a, k, newD)
      }
      active -= b
      idOf(a) = next
      size(next) = sa + sb
      slot(next) = a
      next += 1
    }
    merges.toSeq
  }

  /** Cut the dendrogram into k clusters: replay merges until k remain.
    * Returns leaf→cluster assignment (cluster labels 0..k-1 by lowest
    * leaf index, deterministic). */
  def fcluster(merges: Seq[Merge], n: Int, k: Int): Map[Int, Int] = {
    val parent = Array.tabulate(2 * n - 1)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    merges.take(n - k).zipWithIndex.foreach { case (m, i) =>
      parent(find(m.a)) = n + i
      parent(find(m.b)) = n + i
    }
    val roots = (0 until n).map(find).distinct.sorted.zipWithIndex.toMap
    (0 until n).map(i => i -> roots(find(i))).toMap
  }

  /** Hard ceiling on the SAMPLE axis for the driver-side linkage.
    * The agglomeration holds the full s×s distance matrix plus a
    * pair-keyed working map on the driver and iterates an O(s²)
    * closest-pair scan s times (O(s³) total): at 4096 samples that is
    * ~134 MB of matrix + a ~3·10¹⁰-step loop — the measured practical
    * edge of "seconds-to-minutes on one driver core" (the reference
    * workload clusters ≤ ~10³ samples; scipy's own linkage has the
    * same O(s²) memory wall). Beyond it the failure mode without this
    * guard is a driver OOM/1-core stall deep inside a Spark job, so
    * [[clusterSamples]] rejects early with the remediation spelled
    * out. For sample-rich corpora cluster on the FEATURE axis
    * instead (trivially this same operator with (idCol, sampleCol)
    * swapped) or bridge to spark.ml's distributed BisectingKMeans —
    * hierarchical-ish splits without a driver-side matrix. */
  val MaxLinkageSamples: Int = 4096

  /** End-to-end: distributed distances → driver linkage → assignment
    * DataFrame (sample, cluster). The sample axis is capped at
    * [[MaxLinkageSamples]] (driver O(s²) memory / O(s³) time — see
    * the scaladoc there for the distributed alternatives). */
  def clusterSamples(
      spark: SparkSession, df: DataFrame,
      idCol: String, sampleCol: String, valueCol: String, k: Int): DataFrame = {
    import spark.implicits._
    val samples = df.select(col(sampleCol)).distinct()
      .collect().map(_.get(0).toString).sorted
    val idx = samples.zipWithIndex.toMap
    val n = samples.length
    require(n <= MaxLinkageSamples,
      s"Ward linkage is driver-side O(s^2) memory / O(s^3) time by design and " +
      s"is capped at $MaxLinkageSamples samples (got $n). For sample-rich " +
      s"corpora cluster on the feature axis (swap idCol/sampleCol) or use " +
      s"spark.ml BisectingKMeans for a distributed hierarchical split.")
    val sq = Array.ofDim[Double](n, n)
    pairwiseSqDist(df, idCol, sampleCol, valueCol).collect().foreach { r =>
      val a = idx(r.get(0).toString); val b = idx(r.get(1).toString)
      val v = r.getDouble(2)
      sq(a)(b) = v; sq(b)(a) = v
    }
    val assign = fcluster(linkage(sq), n, k)
    samples.zipWithIndex.map { case (s, i) => (s, assign(i)) }
      .toSeq.toDF(sampleCol, "cluster")
  }
}
