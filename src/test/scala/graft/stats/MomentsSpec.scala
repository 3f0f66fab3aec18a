package graft.stats

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.math.{BigDecimal => JBD, BigInteger, RoundingMode}

/** Executable proof of the `Moments` bound table (INVARIANTS.md §1;
  * round-9/10 driver regressions both came from this family, so the
  * documented |sum| bounds get property coverage rather than prose).
  *
  * Strategy: for each primitive, synthesize values EXACT at the
  * primitive's scale whose exact sum sits just under the documented
  * conversion bound, then assert
  *   (a) partitioning invariance — identical BITS across 1/7/32-way
  *       repartitions (the order-independence claim), and
  *   (b) engine-exactness — the Spark result equals the correctly
  *       rounded double of the driver-side exact BigDecimal sum
  *       (`Double.parseDouble(bd.toPlainString)` is correctly rounded
  *       per the Java spec; DuckDB's in-bound conversion is correctly
  *       rounded too — double(mantissa) is exact below 2⁵³ and the
  *       ÷10ˢ step is a single correctly-rounded IEEE division — so
  *       equality with the correctly rounded value IS cross-engine
  *       agreement).
  * The boundary itself is demonstrated in pure JVM arithmetic: below
  * mantissa 2⁵³ the double(m)/10ˢ path equals the correctly rounded
  * value; above it, double(m) pre-rounds and the two paths diverge —
  * exactly the sf10 parity failure that motivated the coarse scales.
  *
  * The BIGINT carrier is checked against the DECIMAL formulation it
  * replaced (kept here only, as the reference), and its overflow bound
  * is shown to fail loudly rather than return a wrong value.
  */
class MomentsSpec extends graft.SparkSpec {
  import spark.implicits._

  private val Two53 = 1L << 53 // 9007199254740992

  /** Correctly rounded double of an exact decimal (Java-spec guarantee). */
  private def cr(bd: JBD): Double = java.lang.Double.parseDouble(bd.toPlainString)

  /** Seeded values exact at `scale` decimals, mantissas < 2^53 (their
    * double carriers round-trip), exact sum just under `targetSum`. */
  private def exactAt(scale: Int, n: Int, maxMantissa: Long, seed: Long): Seq[JBD] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val m = math.abs(rnd.nextLong() % maxMantissa)
      new JBD(BigInteger.valueOf(m), scale)
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Run `prim` over the values' double carriers at three partitionings;
    * assert bitwise-identical results and return the (single) double. */
  private def sparkSum(vals: Seq[JBD], prim: Column => Column): Double = {
    val doubles = vals.map(_.doubleValue())
    val results = Seq(1, 7, 32).map { p =>
      doubles.toDF("v").repartition(p).agg(prim(col("v")).as("s"))
        .head().getDouble(0)
    }
    assert(results.map(bits).distinct.size == 1,
      s"partitioning changed the bits: ${results.mkString(", ")}")
    results.head
  }

  /** The DECIMAL formulation `sumAt` replaced: each row cast to a
    * DECIMAL(15,6) (scale 6) or DECIMAL(27,s) image, summed as DECIMAL,
    * the sum cast to double. Reference only — not library code. */
  private def decimalSum(c: Column, scale: Int): Column = {
    val image = if (scale == 6) DecimalType(15, 6) else DecimalType(27, scale)
    sum(c.cast(image)).cast("double")
  }

  /** Whether Spark's ANSI overflow error is on the cause chain (Spark
    * wraps task failures; the class is `private[spark]`, so by name). */
  private def ansiOverflow(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists { c =>
      c.isInstanceOf[ArithmeticException] &&
        c.getClass.getName == "org.apache.spark.SparkArithmeticException"
    }

  // ---- (b) engine-exactness just under each documented bound ----

  test("sumAt(_, 0): exact + correctly rounded up to |sum| ~ 9e15") {
    // 1000 integer values, mantissas to ~1.8e13, exact sum ~9e15·U
    val vals = exactAt(0, 1000, 16200000000000L, seed = 11)
    val exact = vals.foldLeft(JBD.ZERO)(_.add(_))
    assert(exact.doubleValue() < 8.8e15 && exact.doubleValue() > 7.0e15)
    assert(bits(sparkSum(vals, Moments.sumAt(_, 0))) == bits(cr(exact)))
  }

  test("sumAt(_, 2): exact + correctly rounded up to |sum| ~ 9e13") {
    val vals = exactAt(2, 1000, 16200000000000L, seed = 13) // ≤1.8e11 each
    val exact = vals.foldLeft(JBD.ZERO)(_.add(_))
    assert(exact.doubleValue() < 8.8e13 && exact.doubleValue() > 7.0e13)
    assert(bits(sparkSum(vals, Moments.sumAt(_, 2))) == bits(cr(exact)))
  }

  test("sumAt(_, 4): exact + correctly rounded up to |sum| ~ 9e11") {
    val vals = exactAt(4, 1000, 16200000000000L, seed = 17) // ≤1.8e9 each
    val exact = vals.foldLeft(JBD.ZERO)(_.add(_))
    assert(exact.doubleValue() < 8.8e11 && exact.doubleValue() > 7.0e11)
    assert(bits(sparkSum(vals, Moments.sumAt(_, 4))) == bits(cr(exact)))
  }

  test("sumAt(_, 6): exact + correctly rounded up to |sum| ~ 9e9") {
    val vals = exactAt(6, 1000, 16200000000000L, seed = 19) // ≤1.8e7 each
    val exact = vals.foldLeft(JBD.ZERO)(_.add(_))
    assert(exact.doubleValue() < 8.8e9 && exact.doubleValue() > 7.0e9)
    assert(bits(sparkSum(vals, Moments.sumAt(_, 6))) == bits(cr(exact)))
  }

  test("sumWide(_, 12): exact for unit-scale data, |sum| ~ 1e3") {
    val vals = exactAt(12, 1000, 2000000000000L, seed = 23) // ≤2.0 each
    val exact = vals.foldLeft(JBD.ZERO)(_.add(_))
    assert(exact.doubleValue() < 9007.0) // 2^53/1e12 ≈ 9007.2
    assert(bits(sparkSum(vals, Moments.sumWide(_, 12))) == bits(cr(exact)))
  }

  test("sumWideSplit(_, 4): split conversion exact PAST the plain 9e11 bound") {
    // exact sum ~2e12 — beyond plain scale 4's conversion bound,
    // still far under the split form's ~9e15 integer-part bound
    val vals = exactAt(4, 1000, 40000000000000L, seed = 29) // ≤4e9 each
    val exact = vals.foldLeft(JBD.ZERO)(_.add(_))
    assert(exact.doubleValue() > 9.1e11, "fixture must cross the plain bound")
    // driver-side replication of the SAME split tree (INVARIANTS §1:
    // structurally identical expression trees on both sides)
    val intPart = exact.setScale(0, RoundingMode.FLOOR)
    val frac = exact.subtract(intPart)
    val expected = cr(intPart) + cr(frac) // both steps correctly rounded
    assert(bits(sparkSum(vals, Moments.sumWideSplit(_, 4))) == bits(expected))
  }

  // ---- the BIGINT carrier against the DECIMAL formulation ----

  /** Seeded grouped values: arbitrary doubles (so every scale rounds),
    * half-way decimals, negatives, ~10% NULLs, and one all-NULL group;
    * per-row |x| < 1e9 (the old DECIMAL(15,6) row bound) and per-group
    * |Σ|·10⁶ < 1e18 — many past 2⁵³, where the conversion rounds. */
  private def seededGroups(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until 12).flatMap { g =>
      (1 to 150).map { _ =>
        val v =
          if (rnd.nextInt(10) == 0) None
          else if (rnd.nextInt(8) == 0) Some((rnd.nextInt(2001) - 1000) + 0.5)
          else Some(rnd.nextGaussian() * math.pow(10, rnd.nextInt(9)))
        (s"g$g", rnd.nextInt(16), v)
      }
    } ++ (1 to 5).map(i => ("all_null", i, Option.empty[Double]))
    rows.toDF("g", "b", "v")
  }

  test("sumAt is bit-identical to the DECIMAL formulation at scales 0/2/4/6, any partitioning") {
    val df = seededGroups(41)
    for (scale <- Seq(0, 2, 4, 6)) {
      val runs = Seq(1, 7, 32).map { p =>
        df.repartition(p).groupBy(col("g"))
          .agg(Moments.sumAt(col("v"), scale).as("new"), decimalSum(col("v"), scale).as("ref"))
          .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      }
      assert(runs.distinct.size == 1, s"scale $scale: partitioning changed a result")
      val out = runs.head
      assert(out.size == 13)
      assert(out("all_null") == ((None, None)), s"scale $scale: all-NULL group")
      out.foreach { case (g, (got, ref)) =>
        assert(got.map(x => bits(x.asInstanceOf[Double])) == ref.map(x => bits(x.asInstanceOf[Double])),
          s"scale $scale group $g: sumAt $got vs DECIMAL $ref")
      }
      // empty input: NULL, as SUM over no rows
      assert(df.filter(lit(false)).agg(Moments.sumAt(col("v"), scale)).head().isNullAt(0))
    }
  }

  test("two-level BIGINT partials (describe's per-bucket sums re-summed per group) equal the direct sumAt") {
    val df = seededGroups(43)
    val direct = df.groupBy(col("g")).agg(Moments.sumAt(col("v"), 6).as("s"))
    val twoLevel = df.repartition(7)
      .groupBy(col("g"), col("b")).agg(sum(Moments.unscaledAt(col("v"), 6)).as("p"))
      .groupBy(col("g")).agg(Moments.fromUnscaled(sum(col("p")), 6).as("s"))
    def bitsByGroup(d: DataFrame) = d.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(bits(r.getDouble(1))))).toMap
    assert(bitsByGroup(twoLevel) == bitsByGroup(direct))
  }

  test("sumAt: a sum crossing |Σ|·10^s = 10^18 throws SparkArithmeticException, never a wrong value") {
    // scale 6: the carrier holds |Σ| < 1e12
    val inBound = Seq(4.0e11, 5.0e11).toDF("v").repartition(2)
    assert(inBound.agg(Moments.sumAt(col("v"), 6)).head().getDouble(0) == 9.0e11)
    val past = Seq(6.0e11, 5.0e11).toDF("v").repartition(2)
    val e = intercept[Exception](past.agg(Moments.sumAt(col("v"), 6)).collect())
    assert(ansiOverflow(e), e)
    // scale 0, past Long.MaxValue itself: the BIGINT add overflows
    val pastLong = Seq.fill(11)(9.0e17).toDF("v").repartition(3)
    val e2 = intercept[Exception](pastLong.agg(Moments.sumAt(col("v"), 0)).collect())
    assert(ansiOverflow(e2), e2)
  }

  // ---- the boundary mechanism, in pure JVM arithmetic ----

  test("2^53 is THE boundary: double(m)/10^s == correctly-rounded below, diverges above") {
    for (s <- Seq(2, 4, 6)) {
      val pow = math.pow(10, s) // 10^s is an exact double for s ≤ 22
      // below: double(m) exact -> single correctly-rounded division ->
      // must equal parseDouble's correctly rounded value, for EVERY m
      ((Two53 - 1000) to (Two53 - 1)).foreach { m =>
        val viaDiv = m.toDouble / pow
        val viaCr = cr(new JBD(BigInteger.valueOf(m), s))
        assert(bits(viaDiv) == bits(viaCr), s"scale $s mantissa $m diverged BELOW 2^53")
      }
      // above: double(m) pre-rounds; the two paths must diverge for
      // some mantissa shortly past the boundary (this is the 1-ulp
      // engine split the sf10 parity run caught at scale 6)
      val diverges = ((Two53 + 1) to (Two53 + 1000)).exists { m =>
        bits(m.toDouble / pow) != bits(cr(new JBD(BigInteger.valueOf(m), s)))
      }
      assert(diverges, s"scale $s: no divergence found above 2^53 — bound claim vacuous?")
    }
  }

  test("money/scale-4 carrier round-trip: the cast recovers the exact decimal") {
    // the scale-choice argument in the Moments scaladoc, executed: a
    // value exact at the scale survives double carrier + cast-back.
    // Note the INDIVIDUAL-value recovery range is narrower than the SUM
    // bound: the carrier recovers v while ulp(v) < 10⁻ˢ (mantissa
    // ≲ 4.5e15, v ≲ 4.5e13 at scale 2) — prices/products are orders of
    // magnitude smaller; only their SUMS approach 9e13.
    for (scale <- Seq(2, 4)) {
      val vals = exactAt(scale, 2000, 1000000000000000L, seed = 31 + scale)
      val back = vals.map(_.doubleValue()).toDF("v")
        .select(col("v").cast(DecimalType(18, scale)).cast("string")).as[String].collect()
      vals.zip(back).foreach { case (v, b) =>
        assert(new JBD(b).compareTo(v) == 0, s"carrier broke: $v -> $b")
      }
    }
  }

  // ---- sf100 routing: measured magnitudes vs documented bounds ----

  test("q1 primitive routing survives sf100 magnitudes (data-driven from sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val li = graft.Tables.lineitem(spark, dir)
    val perGroup = li
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Moments.sumAt(col("l_quantity"), 0).as("qty"),
        Moments.sumAt(col("l_extendedprice"), 2).as("price"),
        Moments.sumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("disc"))
      .collect()
    val scaleUp = 100.0 / 0.001 // sf0.001 -> sf100
    val maxQty = perGroup.map(r => math.abs(r.getDouble(2))).max * scaleUp
    val maxPrice = perGroup.map(r => math.abs(r.getDouble(3))).max * scaleUp
    val maxDisc = perGroup.map(r => math.abs(r.getDouble(4))).max * scaleUp
    def bound(s: Int): Double = Two53.toDouble / math.pow(10, s)
    // each routed primitive's bound covers its sf100 per-group sum (2× margin)
    assert(maxQty * 2 < bound(0), s"sum_qty $maxQty vs ${bound(0)}")     // sumAt(_, 0)
    assert(maxPrice * 2 < bound(2), s"sum_base_price $maxPrice vs ${bound(2)}") // sumAt(_, 2)
    assert(maxDisc * 2 < bound(0), s"sum_disc_price $maxDisc vs ${bound(0)}")   // split: intpart bound
    // and the split routing is NECESSARY: plain scale 4 would NOT cover sf100
    assert(maxDisc > bound(4),
      s"sum_disc_price sf100 projection $maxDisc no longer crosses the plain " +
      s"scale-4 bound ${bound(4)} — if testdata shrank, revisit the split routing note")
    // the BIGINT carriers' overflow bounds (|Σ|·10ˢ < 1e18) hold too
    assert(maxQty * 2 < 1e18 && maxPrice * 2 < 1e16)
  }

  // ---- the exact-sum policy lives in Moments only ----

  test("no DECIMAL literal in src/main outside stats/Moments.scala") {
    // the scale/carrier/bound policy is Moments'; a query or operator
    // that spells its own DECIMAL image forks it. The exceptions are
    // integer overflow guards, not sum images: PairBudget.pairsOf
    // (n·(n-1) past a long) and MaxQuant's byte-size sum.
    val allowed = Map("graft/ops/PairBudget.scala" -> 2, "graft/io/MaxQuant.scala" -> 1)
    val root = Paths.get("src/main/scala")
    val literal = "(?i)\\bdecimal\\(".r
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map { f =>
        val code = Files.readString(f)
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .replaceAll("//[^\n]*", "")
        root.relativize(f).toString -> literal.findAllIn(code).size
      }
      .filter { case (f, n) => n > 0 && f != "graft/stats/Moments.scala" }
      .toMap
    assert(hits == allowed, s"DECIMAL literals outside Moments: ${hits.toSeq.sorted}")
  }
}
