package graft.stats

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{MakeDecimal, UnscaledValue}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DecimalType

/** Exact moment aggregates.
  *
  * Rationale: double `sum()` is order-dependent — a partial-aggregated
  * Spark sum and a sequential single-node sum differ in final ulps, so
  * derived statistics would not hash-match an external oracle. Summing
  * an exact fixed-point image of each value instead makes every moment
  * exact and order-independent; the closed-form statistic is then
  * computed in double from identical inputs with identical IEEE
  * operation trees (+,-,*,/,sqrt are correctly rounded) → bitwise
  * reproducible on any cluster size, any partitioning. Fixed-point
  * sums partial-aggregate (map-side combine) exactly like double sums.
  *
  * Each row is rounded to `scale` decimals (the cast rounds the same
  * whatever its target precision; only its overflow check depends on
  * the precision), the rounded images are summed exactly, and the ONE
  * per-group sum is converted to double. The policy — scale, carrier,
  * bounds — lives only here:
  *
  * {{{
  *  primitive            carrier                 per-row |x| <  overflow |Σ| ≥  2⁵³ bound |Σ| <
  *  sumAt(c, 0)          BIGINT (DECIMAL(18,0))  1e18           1e18            9.0e15
  *  sumAt(c, 2)          BIGINT (DECIMAL(18,2))  1e16           1e16            9.0e13
  *  sumAt(c, 4)          BIGINT (DECIMAL(18,4))  1e14           1e14            9.0e11
  *  sumAt(c, 6)          BIGINT (DECIMAL(18,6))  1e12           1e12            9.0e9
  *  sumWide(c, 10)       DECIMAL(38,10)          1e18           1e28            9.0e5
  *  sumWide(c, 12)       DECIMAL(38,12)          1e16           1e26            9.0e3
  *  sumWideSplit(c, 4)   DECIMAL(38,4)           1e24           1e34            9.0e15 (integer part)
  * }}}
  *
  *  - per-row range: the row cast's overflow bound (ANSI error);
  *  - overflow: the carrier's bound — at or past it the query fails
  *    with an ANSI overflow error, it never returns a wrong value;
  *  - 2⁵³ bound: the final decimal→double conversion is correctly
  *    rounded in BOTH engines only while |Σ|·10ˢ < 2⁵³. Past it,
  *    DuckDB rounds double(mantissa) before the ÷10ˢ and the engines
  *    can differ by 1 ulp (the round-9 sf10 parity failure: lineitem
  *    price sums ≈ 2.7·10¹¹ at scale 6). Big fact sums pick the
  *    coarsest scale their values are exact at; [[sumWideSplit]]
  *    pushes the bound to the integer part's 2⁵³.
  *
  * Scale choice: a value EXACT at scale s (integers, cent prices,
  * 2dp×2dp products) survives its double carrier — it sits within
  * ulps of the s-decimal value, never near a half-boundary — so the
  * cast recovers it on both engines. ARBITRARY doubles (ratios, R²/n)
  * are not portable this way: Spark casts via the shortest repr,
  * DuckDB via the exact binary value (INVARIANTS.md §1).
  *
  * [[sumAt]] is the rewrite Spark's own `DecimalAggregates` rule
  * applies to DECIMAL(p ≤ 8) sums, at every scale: the sum buffer is
  * a fixed-width long (no BigDecimal regions), and `Decimal.toDouble`
  * is `BigDecimal.doubleValue` for both carriers, so an in-range sum
  * converts bit-identically to the DECIMAL(38) sum DuckDB keeps.
  * Products and fine-scale images of arbitrary doubles overflow a long
  * at realistic magnitudes and ride [[sumWide]]'s DECIMAL(38).
  */
object Moments {
  /** Digits of the BIGINT carrier (the widest long-backed decimal). */
  private val LongDigits = 18
  /** Row precision of the wide carrier; its sums are DECIMAL(38, s). */
  private val WideDigits = 28

  /** The scaled-BIGINT image of each row: `c` rounded to `scale`
    * decimals, as its unscaled long. */
  private[stats] def unscaledAt(c: Column, scale: Int): Column =
    Bridge.column(UnscaledValue(Bridge.expression(c.cast(DecimalType(LongDigits, scale)))))

  /** A BIGINT sum of [[unscaledAt]] images, back to double. */
  private[stats] def fromUnscaled(s: Column, scale: Int): Column =
    Bridge.column(MakeDecimal(Bridge.expression(s), LongDigits, scale)).cast("double")

  /** The DECIMAL(28, scale) row image the wide carrier sums. */
  private[stats] def wideAt(c: Column, scale: Int): Column = c.cast(DecimalType(WideDigits, scale))

  /** Exact sum of `c` rounded to `scale` decimals, on the BIGINT
    * carrier, as double (bounds in the table above). */
  def sumAt(c: Column, scale: Int): Column = fromUnscaled(sum(unscaledAt(c, scale)), scale)

  /** Exact sum of `c` rounded to `scale` decimals, on the DECIMAL(38)
    * carrier, as double: products of arbitrary doubles (`x*y` at
    * scale 10 — computed in double, IEEE-identical everywhere, then
    * rounded) and unit-scale values at scale 12. */
  def sumWide(c: Column, scale: Int): Column = sum(wideAt(c, scale)).cast("double")

  /** [[sumWide]] with the decimal→double conversion SPLIT into integer
    * and fractional parts, pushing the engine-agreement bound from
    * |Σ|·10ˢ < 2⁵³ out to |Σ| < 2⁵³.
    *
    * Why the plain cast caps lower: converting m·10⁻ˢ when m > 2⁵³
    * double-rounds (double(m) first, ÷10ˢ second) and the engines'
    * paths diverge by 1 ulp (measured at scale 4: DuckDB's cast of
    * 1352468013579.2467 gives …2468, the correctly rounded value is
    * …2466). The split tree keeps every step exact-or-correctly-
    * rounded in BOTH engines: floor(s) is an exact DECIMAL(·,0) in
    * Spark and DuckDB; its double conversion is exact while
    * |intpart| < 2⁵³; the fractional remainder is exact at s decimals
    * in [0,1), so its conversion is correctly rounded; the final
    * double add is a single IEEE op. Structurally identical trees on
    * both sides → bitwise parity. */
  def sumWideSplit(c: Column, scale: Int): Column = {
    val s = sum(wideAt(c, scale))
    floor(s).cast("double") + (s - floor(s)).cast("double")
  }

  /** Division used by every derived statistic: `try_divide`, because
    * (a) Spark 4 ANSI mode ERRORS on double division by zero — a
    * degenerate group (n=0, zero variance) must yield null, not kill
    * the job — and (b) DuckDB's plain `/` returns NULL on a zero
    * divisor, so try_divide keeps oracle parity bitwise-identical in
    * both the normal and the degenerate case. */
  def div(a: Column, b: Column): Column = try_divide(a, b)

  /** Mean from exact sum: s1/n (deterministic double). */
  def meanOf(s1: Column, n: Column): Column = div(s1, n.cast("double"))

  /** Sample variance from exact moments: (s2 - s1*s1/n)/(n-1). */
  def varOf(s1: Column, s2: Column, n: Column): Column = {
    val nd = n.cast("double")
    div(s2 - div(s1 * s1, nd), nd - lit(1.0))
  }

  /** Sample covariance from exact cross-moments:
    * (sxy - sx*sy/n)/(n-1) — the cross-term twin of [[varOf]]. */
  def covOf(sx: Column, sy: Column, sxy: Column, n: Column): Column = {
    val nd = n.cast("double")
    div(sxy - div(sx * sy, nd), nd - lit(1.0))
  }

  /** Pearson r from exact cross-moments:
    * (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)). */
  def corrOf(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column, sxy: Column): Column = {
    val nd = n.cast("double")
    div(nd * sxy - sx * sy, sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
  }

  /** The same formulas as DuckDB SQL fragments, for oracle strings.
    * Kept adjacent to the Column forms so the expression trees stay
    * structurally identical (bitwise parity depends on it). DuckDB
    * sums every DECIMAL as DECIMAL(38, s), so both Spark carriers
    * meet the same DuckDB value. Product images pass the product
    * parenthesized: `sumWide(s"($x) * ($y)", 10)`. */
  object Sql {
    def sumAt(c: String, scale: Int): String =
      s"CAST(SUM(CAST($c AS DECIMAL($LongDigits,$scale))) AS DOUBLE)"
    def sumWide(c: String, scale: Int): String =
      s"CAST(SUM(CAST($c AS DECIMAL($WideDigits,$scale))) AS DOUBLE)"
    def sumWideSplit(c: String, scale: Int): String = {
      val s = s"SUM(CAST($c AS DECIMAL($WideDigits,$scale)))"
      s"(CAST(FLOOR($s) AS DOUBLE) + CAST($s - FLOOR($s) AS DOUBLE))"
    }
    def meanOf(s1: String, n: String): String = s"$s1 / CAST($n AS DOUBLE)"
    def varOf(s1: String, s2: String, n: String): String =
      s"($s2 - $s1 * $s1 / CAST($n AS DOUBLE)) / (CAST($n AS DOUBLE) - 1.0)"
    def covOf(sx: String, sy: String, sxy: String, n: String): String =
      s"($sxy - $sx * $sy / CAST($n AS DOUBLE)) / (CAST($n AS DOUBLE) - 1.0)"
    def corrOf(n: String, sx: String, sy: String, sxx: String, syy: String, sxy: String): String = {
      val nd = s"CAST($n AS DOUBLE)"
      s"($nd * $sxy - $sx * $sy) / (SQRT($nd * $sxx - $sx * $sx) * SQRT($nd * $syy - $sy * $sy))"
    }
  }
}
