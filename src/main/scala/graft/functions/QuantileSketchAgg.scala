package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Deterministic decimal log-bucketing shared by the sketch and its
  * SQL oracle.
  *
  * Values bucket by (digit count, first two decimal digits):
  *
  *  - |v| < 100  → a singleton bucket per value (exact);
  *  - |v| ≥ 100  → the bucket `[lead2·10^(d-2), (lead2+1)·10^(d-2))`
  *    where `d` is the digit count and `lead2 ∈ [10,99]` the leading
  *    two digits — relative width ≤ 1/lead2, so the bucket midpoint
  *    is within 5 % relative error of every member.
  *
  * The index is pure integer/string arithmetic (no `ln`), so an
  * external engine (the DuckDB oracle) reproduces it bit-for-bit —
  * a float `log` at a bucket boundary could round differently across
  * libms and silently shift a count between adjacent buckets.
  *
  * Negative values mirror to negative indexes; index order equals
  * value order, which is what rank queries need.
  */
object DigestBuckets {

  /** Bucket index of a value. Total index range for longs is
    * ±(10 + 18·90 − 1) — the sketch holds ≤ ~3.3k buckets no matter
    * how many values it absorbs. */
  def indexOf(v: Long): Int = {
    val neg = v < 0
    // Long.MinValue has no positive mirror; clamp to MaxValue (same bucket)
    val a = if (!neg) v else if (v == Long.MinValue) Long.MaxValue else -v
    val i =
      if (a < 10) a.toInt
      else {
        val s = java.lang.Long.toString(a)
        val lead2 = (s.charAt(0) - '0') * 10 + (s.charAt(1) - '0')
        10 + (s.length - 2) * 90 + (lead2 - 10)
      }
    if (neg) -i else i
  }

  /** Canonical representative (integer midpoint) of a bucket.
    * Exact for |v| < 100; strictly increasing in the index.
    * Representatives stay within Long for |v| < 10^18. */
  def representative(idx: Int): Long = {
    val neg = idx < 0
    val a = if (neg) -idx else idx
    val r =
      if (a < 10) a.toLong
      else {
        val d = 2 + (a - 10) / 90
        val lead2 = 10 + (a - 10) % 90
        var pow = 1L
        var i = 0
        while (i < d - 2) { pow *= 10; i += 1 }
        val lo = lead2 * pow
        (lo + (lo + pow - 1)) / 2
      }
    if (neg) -r else r
  }

  /** Rank-r quantile (r = ceil(q·n), 1-based, "lower" quantile) from
    * bucket counts. */
  def quantiles(buckets: Map[Int, Long], qs: Seq[Double]): Seq[Long] = {
    val sorted = buckets.toArray.sortBy(_._1)
    val n = sorted.iterator.map(_._2).sum
    qs.map { q =>
      val target = math.max(1L, math.ceil(q * n).toLong)
      var cum = 0L
      var i = 0
      var rep = 0L
      var found = false
      while (i < sorted.length && !found) {
        cum += sorted(i)._2
        if (cum >= target) { rep = representative(sorted(i)._1); found = true }
        i += 1
      }
      rep
    }
  }
}

/** Mergeable quantile sketch as a typed `Aggregator`: a member of the
  * bounded-state family with [[TopKAgg]] and [[BottomKSketch]].
  *
  * Why not KLL/GK (the textbook mergeable quantile sketches — Karnin
  * et al. FOCS'16): their compaction step is randomized (KLL) or
  * merge-order-dependent (GK), so two runs of the same query under
  * different AQE re-plans return different answers. This sketch is a
  * fixed-universe log-histogram in the DDSketch family (Masson et al.,
  * VLDB'19, "DDSketch: a fast and fully-mergeable quantile sketch
  * with relative-error guarantees") with a decimal integer bucketing
  * instead of a float `log_γ`:
  *
  *  - merge = bucket-wise count sum — commutative, associative,
  *    deterministic under ANY partitioning / shuffle order / re-plan
  *    (same discipline as [[money]] and [[BottomKSketch]]);
  *  - state is O(log range) buckets (≤ ~3.3k for longs) regardless of
  *    input size — map-side partial aggregation sends one small sketch
  *    per group per partition across the shuffle, never the rows;
  *  - answers are EXACT for |v| < 100 and within 5 % relative error
  *    otherwise (bucket relative width ≤ 1/lead2 ≤ 1/10, midpoint
  *    halves it) — and, unlike a rank-error sketch, the guarantee is
  *    on the VALUE, the natural contract for money/latency data.
  *
  * At 100 TB the window/`percentile` exact form (q51) shuffles and
  * sorts every group's full row set; this folds each partition into a
  * ≤3.3k-entry map and ships only that.
  *
  * Input is integer cents ([[money.cents]]) or any long measure.
  */
class QuantileSketchAgg(qs: Seq[Double])
    extends Aggregator[Long, Map[Int, Long], Seq[Long]]
    with Serializable {
  require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
    s"quantiles must be in (0,1], got $qs")

  override def zero: Map[Int, Long] = Map.empty

  override def reduce(b: Map[Int, Long], v: Long): Map[Int, Long] = {
    val idx = DigestBuckets.indexOf(v)
    b.updated(idx, b.getOrElse(idx, 0L) + 1L)
  }

  override def merge(x: Map[Int, Long], y: Map[Int, Long]): Map[Int, Long] =
    if (x.size >= y.size)
      y.foldLeft(x) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
    else
      x.foldLeft(y) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }

  override def finish(b: Map[Int, Long]): Seq[Long] =
    DigestBuckets.quantiles(b, qs)

  override def bufferEncoder: Encoder[Map[Int, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Int, Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object QuantileSketchAgg {
  def of(qs: Double*): QuantileSketchAgg = new QuantileSketchAgg(qs)
}
