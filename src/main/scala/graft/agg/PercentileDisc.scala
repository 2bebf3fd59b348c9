package graft.agg

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import scala.collection.mutable.ArrayBuffer

/** Exact discrete percentile with floor interpolation — the reference's p95
  * semantics: `sorted(xs)[int(q * (len(xs) - 1))]`
  * (flink/latency_slo_monitor.py:45-53). This is NOT Spark's built-in
  * `percentile` (linear interpolation) nor `percentile_approx`.
  *
  * Buffer is the full value multiset, exactly like the reference's
  * ProcessWindowFunction which buffers every window element
  * (latency_slo_monitor.py:47). O(group) memory is therefore *parity*, not
  * an accident — at 100 TB use the approximate sketch path as a separate,
  * explicitly-chosen operator (SURVEY §7.5/§7.6), never a silent swap, so
  * oracle hashes stay exact.
  *
  * Partial aggregation still applies: `reduce` runs map-side per partition,
  * `merge` combines partition buffers, so the shuffle carries one buffer per
  * (key × partition), not one row per element.
  */
class PercentileDisc(q: Double) extends Aggregator[Double, ArrayBuffer[Double], Double] {
  override def zero: ArrayBuffer[Double] = ArrayBuffer.empty[Double]
  override def reduce(b: ArrayBuffer[Double], a: Double): ArrayBuffer[Double] = { b += a; b }
  override def merge(b1: ArrayBuffer[Double], b2: ArrayBuffer[Double]): ArrayBuffer[Double] = { b1 ++= b2; b1 }
  override def finish(b: ArrayBuffer[Double]): Double = PercentileDisc.of(q, b)
  override def bufferEncoder: Encoder[ArrayBuffer[Double]] = Encoders.kryo[ArrayBuffer[Double]]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Rank band around the discrete quantile: the exact order statistics at
  * ranks floor(q·(n−1)) ± max(1, ⌈n/5000⌉). `percentile_approx(accuracy=A)`
  * guarantees rank error ≤ n/A (Greenwald-Khanna bound), so with A=10000 a
  * sketch value always lands inside this band — a DETERMINISTIC accuracy
  * contract usable in an oracle boolean, unlike a value-relative tolerance
  * which breaks on small groups where adjacent order statistics are far
  * apart. */
class PercentileBand(q: Double) extends Aggregator[Double, ArrayBuffer[Double], (Double, Double)] {
  override def zero: ArrayBuffer[Double] = ArrayBuffer.empty[Double]
  override def reduce(b: ArrayBuffer[Double], a: Double): ArrayBuffer[Double] = { b += a; b }
  override def merge(b1: ArrayBuffer[Double], b2: ArrayBuffer[Double]): ArrayBuffer[Double] = { b1 ++= b2; b1 }
  override def finish(b: ArrayBuffer[Double]): (Double, Double) =
    if (b.isEmpty) (Double.NaN, Double.NaN)
    else {
      val s = b.toArray
      java.util.Arrays.sort(s)
      val idx = PercentileDisc.rank(q, s.length)
      val r = math.max(1, math.ceil(s.length / 5000.0).toInt)
      (s(math.max(0, idx - r)), s(math.min(s.length - 1, idx + r)))
    }
  override def bufferEncoder: Encoder[ArrayBuffer[Double]] = Encoders.kryo[ArrayBuffer[Double]]
  override def outputEncoder: Encoder[(Double, Double)] = Encoders.product[(Double, Double)]
}

object PercentileDisc {
  /** The floor-index rule: the 0-based rank of the q-quantile of n values. */
  def rank(q: Double, n: Int): Int = math.floor(q * (n - 1)).toInt

  /** The discrete q-quantile of `xs` (NaN when empty): the one copy of the
    * rule, shared by the aggregate and the streaming p95 windows. */
  def of(q: Double, xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toArray
      java.util.Arrays.sort(s)
      s(rank(q, s.length))
    }

  /** p95 as a Column-producing aggregate: `p95(col("latency_ms"))`. */
  val p95 = udaf(new PercentileDisc(0.95))

  /** Arbitrary-quantile variant of [[p95]] (q56's per-cell threshold). */
  def at(q: Double) = udaf(new PercentileDisc(q))

  /** Arbitrary-quantile rank band (the [[p95Band]] sketch contract, used
    * by q56's approximate-threshold spec). */
  def bandAt(q: Double) = udaf(new PercentileBand(q))

  /** (lo, hi) rank band for the p95 sketch contract (q24). */
  val p95Band = udaf(new PercentileBand(0.95))
}
