package graft.stats

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden values generated with numpy (equal-var t-test, one-way
  * ANOVA, pairwise-complete masked correlation) — the same math the
  * reference runs via scipy (analysis.py:467, :387, :26). */
class StatTestsSpec extends SparkSpec {
  import spark.implicits._

  test("tTestInd matches scipy golden (t, df, p)") {
    val a = Seq(10.0, 12.0, 11.5, 9.0).map(("f", "A", _))
    val b = Seq(14.0, 15.5, 13.0).map(("f", "B", _))
    val df = (a ++ b).toDF("id", "group", "value")
    val r = StatTests.tTestInd(df, Seq("id"), "group", "value", "A", "B").head()
    assert(approx(r.getAs[Double]("t"), -3.484660262186, 1e-9))
    assert(r.getAs[Double]("df") == 5.0)
    assert(approx(r.getAs[Double]("p"), 0.017570710081, 1e-9))
    assert(approx(r.getAs[Double]("mean_a"), 10.625, 1e-12))
    assert(approx(r.getAs[Double]("mean_b"), 14.1666666667, 1e-9))
  }

  test("tTestWelch matches the unequal-variance golden (t, Welch df, p)") {
    // golden from an independent double-precision incomplete-beta
    // implementation (scipy ttest_ind(equal_var=False) semantics)
    val a = Seq(3.1, 2.9, 3.4, 3.8).map(("f", "A", _))
    val b = Seq(5.0, 5.5, 4.9).map(("f", "B", _))
    val df = (a ++ b).toDF("id", "group", "value")
    val r = StatTests.tTestWelch(df, Seq("id"), "group", "value", "A", "B").head()
    assert(approx(r.getAs[Double]("t"), -6.795822695367374, 1e-9))
    assert(approx(r.getAs[Double]("df"), 4.890567113137647, 1e-9))
    assert(approx(r.getAs[Double]("p"), 0.0011460929933573359, 1e-9))
  }

  test("mannWhitneyU: tie-averaged ranks, exact U, asymptotic z/p golden") {
    // A=[1,2,4,4], B=[3,4,5]: ranks 1,2,3,(4,5,6→avg 5),7 →
    // R1=13, U1=3, ties Σ(t³−t)=24, σ=√(1·(8−24/42)), z=−1.1006990785580142
    val rows = Seq(("f","A",1.0),("f","A",2.0),("f","A",4.0),("f","A",4.0),
      ("f","B",3.0),("f","B",4.0),("f","B",5.0))
    val r = StatTests.mannWhitneyU(rows.toDF("id","grp","v"), Seq("id"), "grp", "v", "A", "B")
      .head()
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("u1") == 3.0)
    assert(approx(r.getAs[Double]("z"), -1.1006990785580142, 1e-12))
    assert(approx(r.getAs[Double]("p"), 0.27102764742937663, 1e-12))
  }

  test("kruskalWallis: tie-corrected H golden; p = exp(-H/2) at df=2") {
    // g1=[1,2,4], g2=[4,5], g3=[3,4,6] → H = 2.916666666666664,
    // df=2 → p = exp(-H/2) = 0.232623657917293
    val rows = Seq(("f","g1",1.0),("f","g1",2.0),("f","g1",4.0),
      ("f","g2",4.0),("f","g2",5.0),
      ("f","g3",3.0),("f","g3",4.0),("f","g3",6.0))
    val r = StatTests.kruskalWallis(rows.toDF("id","grp","v"), Seq("id"), "grp", "v").head()
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("n") == 8L)
    assert(approx(r.getAs[Double]("h"), 2.916666666666664, 1e-12))
    assert(r.getAs[Double]("df") == 2.0)
    assert(approx(r.getAs[Double]("p"), 0.232623657917293, 1e-9))
  }

  test("chiSquareIndependence matches hand-computed contingency golden") {
    // 2x2: x:(20u,10v), y:(30u,40v) → expected 15/15/35/35,
    // chi2 = 2·25/15 + 2·25/35 = 4.761904761904762; df=1;
    // p = Q(1/2, chi2/2) = erfc(sqrt(chi2/2)) = 0.02909633174125221
    val rows = Seq.fill(20)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
      Seq.fill(30)(("y", "u")) ++ Seq.fill(40)(("y", "v"))
    val r = StatTests.chiSquareIndependence(rows.toDF("a", "b"), "a", "b").head()
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("r_levels") == 2L && r.getAs[Long]("c_levels") == 2L)
    assert(approx(r.getAs[Double]("chi2"), 4.761904761904762, 1e-9))
    assert(r.getAs[Double]("df") == 1.0)
    assert(approx(r.getAs[Double]("p"), 0.02909633174125221, 1e-9))
  }

  test("chiSquareIndependence streamed fallback above maxExactCells matches exact path") {
    // 4 observed cells > maxExactCells=1 → the guard takes the
    // streamed fine-decimal branch; statistically identical to the
    // sorted-fold result (only last-ulp cast behavior can differ)
    val rows = Seq.fill(20)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
      Seq.fill(30)(("y", "u")) ++ Seq.fill(40)(("y", "v"))
    val r = StatTests.chiSquareIndependence(
      rows.toDF("a", "b"), "a", "b", maxExactCells = 1L).head()
    assert(r.getAs[Long]("n") == 100L)
    assert(approx(r.getAs[Double]("chi2"), 4.761904761904762, 1e-9))
    assert(approx(r.getAs[Double]("p"), 0.02909633174125221, 1e-9))
  }

  test("describe: exact moments and rank-selected quartiles per group") {
    val df = (1 to 11).map(i => ("g", i.toDouble, i.toLong)).toDF("grp", "v", "k")
    val r = graft.stats.Summaries.describe(df, "grp", "v").head()
    assert(r.getAs[Long]("n") == 11L)
    assert(approx(r.getAs[Double]("mean"), 6.0, 1e-12))
    assert(approx(r.getAs[Double]("std"), math.sqrt(11.0), 1e-12)) // var of 1..11 = 11
    assert(r.getAs[Double]("min") == 1.0 && r.getAs[Double]("max") == 11.0)
    // ranks ceil(q*11): p25→3, p50→6, p75→9
    assert(r.getAs[Double]("p25") == 3.0)
    assert(r.getAs[Double]("p50") == 6.0)
    assert(r.getAs[Double]("p75") == 9.0)
  }

  test("tTest1Samp vs popmean 0") {
    val df = Seq(1.0, 2.0, 3.0).map(("f", _)).toDF("id", "value")
    val r = StatTests.tTest1Samp(df, Seq("id"), "value").head()
    // t = mean/ (sd/sqrt(n)) = 2 / (1/sqrt(3)) = 3.4641016151
    assert(approx(r.getAs[Double]("t"), 3.4641016151377544, 1e-9))
    assert(r.getAs[Double]("df") == 2.0)
  }

  test("anova1Way matches golden F") {
    val rows =
      Seq(1.0, 2.0, 3.0).map(("f", "g1", _)) ++
      Seq(2.0, 3.0, 4.0).map(("f", "g2", _)) ++
      Seq(5.0, 6.0, 7.0).map(("f", "g3", _))
    val r = StatTests.anova1Way(rows.toDF("id", "group", "value"),
      Seq("id"), "group", "value").head()
    assert(approx(r.getAs[Double]("f"), 13.0, 1e-9))
    assert(r.getAs[Double]("df1") == 2.0 && r.getAs[Double]("df2") == 6.0)
    assert(r.getAs[Long]("k") == 3L)
  }

  test("anova1Way is bit-identical at 1/7/32 partitions (INVARIANTS §1)") {
    // 30 features × 24 groups, values over six magnitudes: a double
    // fold of per-group moments changes its last bits with the order
    // the partial aggregates meet in
    val rnd = new scala.util.Random(61)
    val rows = for {
      f <- 0 until 30; g <- 0 until 24; _ <- 0 until 3
    } yield (s"f$f", s"g$g", rnd.nextGaussian() * math.pow(10, rnd.nextInt(6)) + g)
    val df = rows.toDF("id", "group", "value")
    def bits(d: Any) = Option(d).map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val runs = try Seq(1, 7, 32).map { p =>
      spark.conf.set(keys(0), p.toString)
      spark.conf.set(keys(1), "false")
      StatTests.anova1Way(df.repartition(p), Seq("id"), "group", "value")
        .collect().map(r => r.getString(0) -> Seq("f", "p").map(c => bits(r.getAs[Any](c)))).toMap
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(runs.head.size == 30)
    assert(runs.distinct.size == 1, "partitioning changed the bits of F or p")
  }

  test("correlationMatrix uses pairwise-complete (masked) semantics") {
    // np.ma.corrcoef golden: x=[1,2,NaN,4,5], y=[2,NaN,6,8,11] → pairs at idx 0,3,4
    val rows = Seq(
      (1, "x", Some(1.0)), (2, "x", Some(2.0)), (3, "x", None), (4, "x", Some(4.0)), (5, "x", Some(5.0)),
      (1, "y", Some(2.0)), (2, "y", None), (3, "y", Some(6.0)), (4, "y", Some(8.0)), (5, "y", Some(11.0)))
    val df = rows.toDF("id", "sample", "value")
    val out = StatTests.correlationMatrix(df, Seq("id"), "sample", "value")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val (n, r) = out(("x", "y"))
    assert(n == 3) // only both-observed rows
    assert(approx(r, 0.995870594886, 1e-9))
    assert(approx(out(("x", "x"))._2, 1.0, 1e-12))
  }

  test("volcano two-sample classifies by s0 curve") {
    // strong separation → significant; weak → not
    val strong = (1 to 4).flatMap(i => Seq(("s", "A", 1.0 + i * 0.01), ("s", "B", 9.0 + i * 0.01)))
    val weak = (1 to 4).flatMap(i => Seq(("w", "A", 5.0 + i * 0.3), ("w", "B", 5.1 + i * 0.3)))
    val df = (strong ++ weak).toDF("id", "group", "value")
    val out = Volcano.twoSample(df, Seq("id"), "group", "value", "A", "B",
        minValidN = 3, s0 = 0.5, minRatio = 1.0, minP = 0.05)
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("significant")).toMap
    assert(out("s"))
    assert(!out("w"))
  }

  test("upDownCounts splits by ratio sign") {
    val df = Seq(("a", 2.0, true), ("b", -1.5, true), ("c", 3.0, false))
      .toDF("id", "ratio", "significant")
    val m = Volcano.upDownCounts(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("up" -> 1L, "down" -> 1L))
  }
}
