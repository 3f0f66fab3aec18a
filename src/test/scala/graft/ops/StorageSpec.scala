package graft.ops

import graft.SparkSpec
import graft.stats.Summaries
import org.apache.spark.sql.functions._

/** The approximate sketches against their exact counterparts on the
  * same data: the bottom-k sample median ([[Sketches.sampleQuantiles]])
  * against the exact median the column centring uses, and the KMV
  * distinct estimate against `Summaries.sitesPeptidesProteins`. */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  test("approx median within tolerance of exact; approx distinct near exact") {
    val rng = new scala.util.Random(13)
    val long = (1 to 20000).map(i => (i, "s", rng.nextGaussian() * 10 + 50))
      .toDF("id", "sample", "value")
    val exact = Normalize.subtractColumnMedian(long)
      .agg(expr("median(value)")).head().getDouble(0)
    assert(math.abs(exact) < 1e-9)
    // the sample median's rank error is O(1/sqrt(k)) in quantile space
    // (Sketches.sampleQuantiles): its exact rank in the full column
    // sits within 2/sqrt(k) of one half
    val k = 4096
    val approxq = Sketches.sampleQuantiles(long, "value", "id", k, Seq(0.5))
      .head().getDouble(1)
    val rank = long.filter($"value" <= approxq).count().toDouble / 20000
    assert(math.abs(rank - 0.5) < 2.0 / math.sqrt(k), s"rank $rank of $approxq")

    val docs = (1 to 5000).map(i => (0.99, s"W${i % 1000}", s"P${i % 700};X"))
      .toDF("Localization prob", "Sequence window", "Proteins")
    val ex = Summaries.sitesPeptidesProteins(docs).head()
    // KMV standard error ~ 1/sqrt(k-2) = 4.4% at k = 512
    def kmv(c: String) = Sketches.kmvDistinctByKey(
      docs.withColumn("protein", split($"Proteins", ";").getItem(0)), Nil, c, k = 512)
      .head().getDouble(0)
    assert(math.abs(kmv("Sequence window") - ex.getLong(1)) / ex.getLong(1) < 0.1)
    assert(math.abs(kmv("protein") - ex.getLong(2)) / ex.getLong(2) < 0.1)
  }
}
