package graft.streaming

/** Adaptive cadence for the periodic batch near-dup compaction in the
  * streaming-ingest + batch-dedup split (DocStream scaladoc; measured
  * cycle: BENCH_NOTES "Round-9: streaming ingest→compaction cycle
  * measured at sf1").
  *
  * The sustainability condition (BENCH_NOTES round-9 cadence math) is
  * `W(corpus) < P`: a compaction whose wall W exceeds its period P
  * falls behind forever. A FIXED P obeys that only until the corpus
  * grows past the size it was provisioned for — the banded-LSH
  * compaction is ~linear in corpus size by construction (candidate
  * pair work is budget-bounded, everything else is scans/exchanges) —
  * so the period must grow with the corpus. This scheduler closes the
  * loop on MEASUREMENTS instead of a provisioning guess: each
  * completed compaction records (corpusRows, wallSec); the next period
  * is the one that keeps predicted W/P at `targetUtilization`, clamped
  * to [minPeriodSec, maxPeriodSec]. maxPeriodSec doubles as the
  * near-dup staleness ceiling — a near-dup pair straddling a
  * compaction boundary survives at most one period.
  *
  * Pure driver-side decision logic: deterministic given the recorded
  * history, no Spark dependency — unit-tested in IoStreamingSpec, wired
  * live by [[CompactionDriver]].
  */
final class CompactionScheduler(
    val targetUtilization: Double = 0.5,
    val minPeriodSec: Double = 30.0,
    val maxPeriodSec: Double = 6 * 3600.0) {
  require(targetUtilization > 0.0 && targetUtilization < 1.0,
    s"targetUtilization must be in (0, 1): $targetUtilization")
  require(minPeriodSec > 0.0 && minPeriodSec <= maxPeriodSec,
    s"need 0 < minPeriodSec <= maxPeriodSec: $minPeriodSec, $maxPeriodSec")

  private var history = Vector.empty[(Long, Double)]

  /** Record a completed compaction's measured wall at the corpus size
    * it ran over. Non-positive sizes/walls are ignored (a failed or
    * empty compaction is not evidence of cost). */
  def record(corpusRows: Long, wallSec: Double): Unit =
    if (corpusRows > 0L && wallSec > 0.0)
      history = (history :+ (corpusRows, wallSec)).takeRight(8)

  def observations: Int = history.size

  /** Predicted compaction wall at `rows`: affine per-row model from
    * the last two observations (slope + intercept absorbs the fixed
    * job-scheduling floor); one observation scales proportionally; no
    * observations → 0 (bootstrap: compact immediately and learn).
    * Never below the largest wall already measured at a smaller or
    * equal corpus — a shrinking prediction under host noise must not
    * talk the scheduler into an unsustainable period. */
  def predictWallSec(rows: Long): Double = {
    if (history.isEmpty || rows <= 0L) return 0.0
    val (rLast, wLast) = history.last
    val base = history.size match {
      case 1 => wLast * rows.toDouble / rLast.toDouble
      case _ =>
        val (r1, w1) = history(history.size - 2)
        if (rLast == r1) math.max(w1, wLast) * rows.toDouble / rLast.toDouble
        else {
          // compaction cost is physically non-decreasing in corpus
          // size; a noise-negative measured slope clamps to flat (the
          // affine extrapolation would otherwise predict HIGHER cost
          // for SMALLER corpora)
          val slope = math.max(0.0, (wLast - w1) / (rLast - r1).toDouble)
          val intercept = wLast - slope * rLast.toDouble
          intercept + slope * rows.toDouble
        }
    }
    val floor = history.collect { case (r, w) if r <= rows => w }
      .foldLeft(0.0)(math.max)
    math.max(base, floor)
  }

  /** The period keeping predicted W/P at the utilization target,
    * clamped to the configured bounds. */
  def nextPeriodSec(rows: Long): Double =
    math.min(maxPeriodSec,
      math.max(minPeriodSec, predictWallSec(rows) / targetUtilization))

  /** True when a compaction should run now: bootstrap (no measurement
    * yet) or the elapsed time since the last compaction reached the
    * recommended period for the CURRENT corpus size. */
  def shouldCompact(elapsedSinceLastSec: Double, rows: Long): Boolean =
    history.isEmpty || elapsedSinceLastSec >= nextPeriodSec(rows)

  /** Measured utilization of the last compaction against the period
    * that was actually used (diagnostics for the bench line). */
  def lastUtilization(periodSec: Double): Option[Double] =
    history.lastOption.map { case (_, w) => w / math.max(periodSec, 1e-9) }
}
