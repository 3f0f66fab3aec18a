package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("DistributedRank equals single-partition row_number") {
    val rng = new scala.util.Random(9)
    val df = (1 to 1000).map(i => (i.toLong, rng.nextDouble() * 100)).toDF("id", "v")
    val fast = DistributedRank.rowNumber(df, "v", ascending = false, Seq("id"), numBuckets = 8)
      .select("id", "rank").as[(Long, Long)].collect().toMap
    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("rank",
        row_number().over(Window.orderBy($"v".desc, $"id")).cast("long"))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    assert(fast == naive)
  }

  test("subtractColumnMedian centers each sample at median 0") {
    val df = Seq(
      ("a", "s1", 1.0), ("b", "s1", 2.0), ("c", "s1", 9.0),
      ("a", "s2", 10.0), ("b", "s2", 20.0), ("c", "s2", 30.0), ("d", "s2", 40.0)
    ).toDF("id", "sample", "value")
    val out = Normalize.subtractColumnMedian(df, "sample", "value")
    val med = out.groupBy($"sample").agg(expr("median(value)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx(med("s1"), 0.0, 1e-12))
    assert(approx(med("s2"), 0.0, 1e-12)) // even count: interpolated median
  }

  test("zscore standardizes within key") {
    val df = (1 to 100).map(i => ("s", i.toDouble)).toDF("sample", "value")
    val out = Normalize.zscore(df, Seq("sample"))
    val stats = out.agg(avg($"zscore"), stddev_samp($"zscore")).head()
    assert(approx(stats.getDouble(0), 0.0, 1e-9))
    assert(approx(stats.getDouble(1), 1.0, 1e-9))
  }

  test("buildIndexFromDesign annotates via broadcast lookup, unmatched kept/dropped") {
    val obs = Seq(
      ("f1", "Intensity A1", 1.0), ("f1", "Intensity B1", 2.0), ("f1", "Unknown", 3.0)
    ).toDF("id", "sample", "value")
    val design = Seq(("A1", "Control", 1), ("B1", "Treat", 1))
      .toDF("Label", "Group", "Replicate")
    val kept = Design.buildIndexFromDesign(obs, design, removePrefixes = Seq("Intensity "))
    assert(kept.count() == 3)
    val m = kept.collect().map(r => r.getAs[String]("sample") -> Option(r.getAs[String]("Group"))).toMap
    assert(m("Intensity A1").contains("Control"))
    assert(m("Unknown").isEmpty)
    val dropped = Design.buildIndexFromDesign(obs, design,
      removePrefixes = Seq("Intensity "), keepUnmatched = false)
    assert(dropped.count() == 2)
  }

  test("buildIndexFromLabels regex capture with cast") {
    val df = Seq(("Ratio H/L normalized E1", 1.0)).toDF("sample", "v")
    val out = Design.buildIndexFromLabels(df, "sample",
      Seq(("exp", "E(\\d+)$", Some("int")), ("kind", "^Ratio (./.)", None)))
    val r = out.head()
    assert(r.getAs[Int]("exp") == 1)
    assert(r.getAs[String]("kind") == "H/L")
  }

  test("applyExperimentalDesign relabels via lookup with passthrough") {
    val df = Seq(("e1", 1.0), ("e2", 2.0), ("raw", 3.0)).toDF("sample", "v")
    val lookup = Seq(("e1", "Control"), ("e2", "Treat")).toDF("Experiment", "Name")
    val out = Design.applyExperimentalDesign(df, lookup)
      .collect().map(r => r.getDouble(1) -> r.getString(0)).toMap
    assert(out(1.0) == "Control" && out(2.0) == "Treat" && out(3.0) == "raw")
  }

  test("ScalarFuncs protein id split chain") {
    import graft.functions.ScalarFuncs
    val df = Seq(("P07830;P63267 extra_tag", "Q9Y6K9-2;P123")).toDF("a", "b")
    val r = df.select(
      ScalarFuncs.proteinId($"a").as("pa"),
      ScalarFuncs.proteinIdBase($"b").as("pb"),
      ScalarFuncs.proteinIds($"a").as("ids"),
      ScalarFuncs.shortStr($"a").as("ss")).head()
    assert(r.getString(0) == "P07830")
    assert(r.getString(1) == "Q9Y6K9")
    assert(r.getSeq[String](2) == Seq("P07830", "P63267"))
    assert(r.getString(3) == "P07830") // text before first ';'
  }

  test("s0 significance curve gates by ratio and p") {
    import graft.functions.ScalarFuncs
    val df = Seq(
      (0.001, 3.0), // tiny p, big ratio → significant
      (0.5, 3.0),   // big p → depends on curve; s0 small keeps it out
      (0.001, 0.5)  // ratio below minRatio → never
    ).toDF("p", "absratio")
    val out = df.select(ScalarFuncs.s0Significant($"p", $"absratio", 0.5, 1.0, 0.05).as("sig"))
      .as[Boolean].collect().toSeq
    assert(out == Seq(true, false, false))
  }

  test("exactGroupQuantiles: rank-selected values match a sorted reference; nulls dropped") {
    import graft.ops.Quantiles
    val df = Seq(
      ("a", 5.0, 1L), ("a", 1.0, 2L), ("a", 3.0, 3L), ("a", 4.0, 4L), ("a", 2.0, 5L),
      ("b", 10.0, 6L), ("b", 20.0, 7L), ("b", 20.0, 8L)
    ).toDF("g", "v", "k")
      .unionByName(Seq(("b", Option.empty[Double], 9L)).toDF("g", "v", "k"))
    val out = Quantiles.exactGroupQuantiles(df, "g", "v", Seq(0.5, 0.95))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // a: n=5 → p50 rank ceil(2.5)=3 → 3.0; p95 rank ceil(4.75)=5 → 5.0
    assert(out("a") == ((3.0, 5.0)))
    // b: n=3 (null dropped) → p50 rank ceil(1.5)=2 → 20.0 (tie broken by k);
    // p95 rank ceil(2.85)=3 → 20.0
    assert(out("b") == ((20.0, 20.0)))
  }

  test("medianByGroup / fiveNumberByGroup match Spark's own median/percentile aggregates") {
    import graft.ops.Quantiles
    import org.apache.spark.sql.functions.{col, lit, median, percentile, count, min => smin, max => smax}
    val rnd = new scala.util.Random(42)
    // both parities (even/odd n), duplicates, and a null
    val rows = (1 to 501).map(i => ("odd", math.floor(rnd.nextDouble() * 100) / 4)) ++
      (1 to 400).map(i => ("even", math.floor(rnd.nextDouble() * 100) / 4))
    val df = rows.toDF("g", "v")
      .unionByName(Seq(("even", Option.empty[Double])).toDF("g", "v"))
    val ref = df.groupBy(col("g")).agg(
      count(col("v")).as("n"), smin(col("v")).as("lo"),
      percentile(col("v"), lit(0.25)).as("q1"), median(col("v")).as("med"),
      percentile(col("v"), lit(0.75)).as("q3"), smax(col("v")).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val med = Quantiles.medianByGroup(df, "g", "v", numBuckets = 7)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(med("odd") == ref("odd")._4 && med("even") == ref("even")._4)
    val five = Quantiles.fiveNumberByGroup(df, Seq("g"), "v", numBuckets = 7)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(five("odd") == ref("odd") && five("even") == ref("even"),
      s"five: $five vs ref: $ref")
    // all-null group emits no row (box plots draw nothing for it)
    val allNull = Seq(("x", Option.empty[Double]), ("x", None)).toDF("g", "v")
    assert(Quantiles.fiveNumberByGroup(allNull, Seq("g"), "v").count() == 0L)
  }

  test("selection-plan edges: all-equal values, n=1/n=2 groups, NULL group key, numBuckets=1") {
    import graft.ops.Quantiles
    // all-equal values collapse every row into ONE bucket (the
    // documented degenerate), a NULL group key must survive the
    // null-safe broadcast joins, and numBuckets=1 forces the
    // whole-group-in-one-bucket path for every group
    val df = (
      (1 to 100).map(_ => (Option("same"), 7.5)) ++       // all equal, even n
      Seq((Option("one"), 3.0)) ++                        // n = 1
      Seq((Option("two"), 1.0), (Option("two"), 2.0)) ++  // n = 2 → interpolate
      Seq((Option.empty[String], 5.0), (None, 9.0), (None, 1.0))  // NULL key, n=3
    ).toDF("g", "v")
    for (buckets <- Seq(1, 4, 1024)) {
      val med = Quantiles.medianByGroup(df, "g", "v", numBuckets = buckets)
        .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
      assert(med(Some("same")) == 7.5 && med(Some("one")) == 3.0 &&
        med(Some("two")) == 1.5 && med(None) == 5.0, s"buckets=$buckets: $med")
      val five = Quantiles.fiveNumberByGroup(df, Seq("g"), "v", numBuckets = buckets)
        .collect().map(r => Option(r.getString(0)) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5), r.getDouble(6))).toMap
      assert(five(Some("same")) == ((100L, 7.5, 7.5, 7.5, 7.5, 7.5)))
      assert(five(Some("one")) == ((1L, 3.0, 3.0, 3.0, 3.0, 3.0)))
      // n=2: pos(q)=1+q → q1 = 1 + (2-1)*0.25 → lo + (hi-lo)*0.25
      assert(five(Some("two")) == ((2L, 1.0, 1.25, 1.5, 1.75, 2.0)))
      assert(five(None)._1 == 3L && five(None)._2 == 1.0 && five(None)._6 == 9.0)
    }
  }

  test("medianByGroup pins the (lo+hi)/2 IEEE tree on ulp-boundary even groups") {
    import graft.ops.Quantiles
    // Spark's median aggregate computes lo+(hi-lo)*0.5, a DIFFERENT
    // IEEE tree from medianByGroup's (lo+hi)/2 — for lo=-1, hi=1+ulp
    // the former gives 0.0 (hi-lo rounds to 2 under round-to-even)
    // while the latter gives 2^-53. The oracle SQL mirrors (lo+hi)/2,
    // so pin THAT tree on values sitting on the divergence boundary.
    val u = math.ulp(1.0)
    val cases = Seq(
      ("a", -1.0, 1.0 + u),
      ("b", -(1.0 + u), 1.0),
      ("c", 0.1, 0.1 + math.ulp(0.1)),
      ("d", 3.0 + math.ulp(3.0), 3.0 + 2 * math.ulp(3.0)))
    // the first case is genuinely adversarial: the two trees disagree
    assert((-1.0 + (1.0 + u - -1.0) * 0.5) != (-1.0 + (1.0 + u)) / 2)
    val df = cases.flatMap { case (g, lo, hi) => Seq((g, lo), (g, hi)) }
      .toDF("g", "v")
    val med = Quantiles.medianByGroup(df, "g", "v", numBuckets = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    cases.foreach { case (g, lo, hi) =>
      assert(med(g) == (lo + hi) / 2, s"group $g: ${med(g)} vs ${(lo + hi) / 2}")
    }
  }

  test("exactGroupQuantiles: dominant group (99% of rows) splits across value buckets") {
    import graft.ops.Quantiles
    // one group holds 9900 of 10000 rows — the skew shape the bucketed
    // stitch exists for; with few buckets every bucket window still
    // holds multiple rows, exercising the offset stitching
    val rows = (1 to 9900).map(i => ("big", i.toDouble, i.toLong)) ++
      (1 to 100).map(i => ("small", i.toDouble, (10000 + i).toLong))
    val df = rows.toDF("g", "v", "k")
    val out = Quantiles.exactGroupQuantiles(df, "g", "v", Seq(0.25, 0.5, 0.99),
        numBuckets = 7)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // values 1..n: rank ceil(q*n) selects exactly ceil(q*n)
    assert(out("big") == ((2475.0, 4950.0, 9801.0)))
    assert(out("small") == ((25.0, 50.0, 99.0)))
  }

  test("exactGroupQuantiles: NaN/±Inf values don't break ANSI bucketing; sort order preserved") {
    import graft.ops.Quantiles
    // NaN sorts above +Inf in both Spark and DuckDB; -Inf first. The
    // clamped bucket math must keep ANSI mode from throwing on the
    // float→int path and keep ranks aligned with the sort order.
    val rows = Seq(
      ("g", 1.0, 1L), ("g", 2.0, 2L), ("g", 3.0, 3L), ("g", 4.0, 4L),
      ("g", 5.0, 5L), ("g", 6.0, 6L), ("g", 7.0, 7L), ("g", 8.0, 8L),
      ("g", Double.PositiveInfinity, 9L), ("g", Double.NaN, 10L),
      ("h", Double.NegativeInfinity, 11L), ("h", 1.0, 12L), ("h", 2.0, 13L), ("h", 3.0, 14L)
    ).toDF("g", "v", "k")
    val out = Quantiles.exactGroupQuantiles(rows, "g", "v", Seq(0.25, 0.5, 0.95))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // g: n=10 → ranks 3, 5, ceil(9.5)=10 → 3.0, 5.0, NaN (sorted last)
    assert(out("g")._1 == 3.0 && out("g")._2 == 5.0 && out("g")._3.isNaN)
    // h: n=4 → ranks 1, 2, 4 → -Inf first, then 1.0, last 3.0
    assert(out("h") == ((Double.NegativeInfinity, 1.0, 3.0)))
  }

  test("fixed bucketing (r17): mixed signs, zeros, sub-unit and concentrated values rank exactly") {
    import graft.ops.Quantiles
    import org.apache.spark.sql.functions.{col, lit, median, percentile}
    // exercises every sign regime of the stats-free ln bucketing
    // (negatives mirror, ±0.0 take the zero bucket, |v| < 1 has a
    // negative ln) plus a group concentrated inside one ~1/K relative
    // window (single-bucket degenerate) — outputs must equal Spark's
    // own exact median/percentile regardless of bucket routing
    val rnd = new scala.util.Random(7)
    val rows =
      (1 to 400).map(_ => ("signs", rnd.nextDouble() * 20 - 10)) ++
      Seq(("signs", 0.0), ("signs", -0.0), ("signs", 1e-9), ("signs", -1e-9)) ++
      (1 to 300).map(_ => ("tiny", rnd.nextDouble() * 1e-6)) ++
      (1 to 301).map(_ => ("dense", 42.0 + rnd.nextDouble() * 1e-9))
    val df = rows.toDF("g", "v")
    val ref = df.groupBy(col("g")).agg(
      median(col("v")).as("med"),
      percentile(col("v"), lit(0.25)).as("q1"),
      percentile(col("v"), lit(0.75)).as("q3"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val med = Quantiles.medianByGroup(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ref.foreach { case (g, (m, _, _)) => assert(med(g) == m, s"median $g") }
    val five = Quantiles.fiveNumberByGroup(df, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    ref.foreach { case (g, (m, q1, q3)) =>
      assert(five(g) == ((q1, m, q3)), s"five $g: ${five(g)} vs ($q1, $m, $q3)")
    }
  }

  test("describe (r17): fused histogram moments equal a direct aggregation bitwise") {
    import graft.stats.{Moments, Summaries}
    import org.apache.spark.sql.functions.{col, count, min => smin, max => smax, sqrt}
    val rnd = new scala.util.Random(11)
    val df = ((1 to 500).map(_ => ("a", math.floor(rnd.nextDouble() * 200) / 4)) ++
      (1 to 321).map(_ => ("b", math.floor(rnd.nextDouble() * 80) / 2)))
      .toDF("g", "v")
      .unionByName(Seq(("a", Option.empty[Double])).toDF("g", "v"))
    // the OLD dedicated moment pass, verbatim — the fused two-level
    // exact sums must reproduce it bit-for-bit
    val ref = df.filter(col("v").isNotNull).groupBy(col("g")).agg(
      count(col("v")).as("n"),
      Moments.sumAt(col("v"), 6).as("s1"),
      Moments.sumWide(col("v") * col("v"), 10).as("s2"),
      smin(col("v")).as("min"), smax(col("v")).as("max"))
      .select(col("g"), col("n"), col("min"), col("max"),
        Moments.meanOf(col("s1"), col("n")).as("mean"),
        sqrt(Moments.varOf(col("s1"), col("s2"), col("n"))).as("std"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val out = Summaries.describe(df, "g", "v")
      .select(col("g"), col("n"), col("min"), col("max"), col("mean"), col("std"),
        col("p25"), col("p50"), col("p75"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)),
          (r.getDouble(6), r.getDouble(7), r.getDouble(8)))).toMap
    assert(out.keySet == ref.keySet)
    ref.foreach { case (g, m) => assert(out(g)._1 == m, s"moments $g") }
    // quartiles: exact rank selection vs an in-memory sorted reference
    val byG = df.filter(col("v").isNotNull).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
    byG.foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      def at(q: Double) = sorted(math.ceil(q * sorted.length).toInt - 1)
      assert(out(g)._2 == ((at(0.25), at(0.5), at(0.75))), s"quartiles $g")
    }
  }

  test("Caches.memoLevel: DISK_ONLY below the per-core heap floor, overridable") {
    import graft.ops.Caches
    import org.apache.spark.storage.StorageLevel
    val gb = 1L << 30
    // 8 GiB / 32 cores = 256 MB/core → below the 384 MB floor
    assert(Caches.memoLevelFor(8 * gb, 32) == StorageLevel.DISK_ONLY)
    // 16 GiB / 32 cores = 512 MB/core → provisioned
    assert(Caches.memoLevelFor(16 * gb, 32) == StorageLevel.MEMORY_AND_DISK)
    // 8 GiB / 8 cores = 1 GiB/core → provisioned
    assert(Caches.memoLevelFor(8 * gb, 8) == StorageLevel.MEMORY_AND_DISK)
    // boundary: exactly at the floor is NOT below it
    assert(Caches.memoLevelFor(384L * (1L << 20) * 4, 4) == StorageLevel.MEMORY_AND_DISK)
    // sysprop overrides force the level regardless of heap
    val prev = sys.props.get("graft.cache.memo")
    try {
      sys.props("graft.cache.memo") = "disk"
      assert(Caches.memoLevel(spark) == StorageLevel.DISK_ONLY)
      sys.props("graft.cache.memo") = "memory"
      assert(Caches.memoLevel(spark) == StorageLevel.MEMORY_AND_DISK)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.cache.memo") = v
        case None    => sys.props.remove("graft.cache.memo"): Unit
      }
    }
    // threshold sysprop moves the floor
    try {
      sys.props("graft.cache.minHeapPerCoreMb") = "1"
      assert(Caches.memoLevelFor(8 * gb, 32) == StorageLevel.MEMORY_AND_DISK)
    } finally { sys.props.remove("graft.cache.minHeapPerCoreMb"): Unit }
  }
}
