package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded-memory cardinality sketches for corpus statistics.
  *
  * The production question "how many DISTINCT shingles / tokens / urls per
  * language" is the classic 100 TB trap: an exact answer is a corpus-grain
  * `distinct` — a full shuffle of every (lang, value) pair just to count
  * them. The K-minimum-values (KMV) sketch answers it with a bounded
  * buffer: keep the k smallest distinct HASH values seen; if fewer than k
  * exist the count is exact, otherwise the kth smallest hash `h_k` of a
  * set of D uniform draws on [0, M) sits near `k·M/D`, so
  * `D ≈ (k-1)·M/h_k` (the unbiased KMV estimator, Bar-Yossef et al. 2002).
  *
  * Scale shape: the aggregator is a monoid (merge = sorted-array union
  * truncated to k), so Spark runs it with MAP-SIDE partial aggregation —
  * each task ships one ≤k-element array per group, never the values
  * themselves. The shuffle is O(groups · k) regardless of corpus size,
  * vs O(distinct values) for exact `count_distinct`. Deterministic: the
  * k smallest distinct values of a set are order-free, so the result is
  * bitwise reproducible and oracle-checkable (the DuckDB side derives the
  * same min-k with a rank window — affordable at test scale, which is
  * precisely the contrast the sketch exists to avoid at fleet scale).
  */
object Sketches {

  /** Sorted ascending, distinct, at most k elements. `data` may carry
    * slack capacity past `n` (the reduce path grows it geometrically);
    * only `data(0 until n)` is meaningful. */
  final case class KmvBuf(n: Int, data: Array[Long])

  private val kmvEnc: Encoder[KmvBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[KmvBuf]()

  /** Keep the k smallest distinct hash values of the input column. */
  final class KmvAgg(k: Int) extends Aggregator[Long, KmvBuf, Seq[Long]] {
    require(k >= 2, s"KMV needs k >= 2, got $k")

    def zero: KmvBuf = KmvBuf(0, Array.empty)

    def reduce(b: KmvBuf, h: Long): KmvBuf = {
      // Full buffer and h past the current kth smallest: drop on the floor.
      if (b.n == k && h >= b.data(b.n - 1)) return b
      val pos = {
        val i = java.util.Arrays.binarySearch(b.data, 0, b.n, h)
        if (i >= 0) return b // already present — distinct-ness is the point
        -i - 1
      }
      // copy only when genuinely growing: a saturated buffer (n == k ==
      // data.length) shifts in place — the insert drops the last element,
      // so no extra capacity is needed and the hot reduce path stays
      // allocation-free once the buffer fills
      val out =
        if (b.n < b.data.length || b.data.length == k) b.data
        else java.util.Arrays.copyOf(b.data, math.min(k, math.max(16, b.data.length * 2)))
      val keep = math.min(b.n + 1, k)
      // shift the tail right by one, dropping the last element if full
      System.arraycopy(out, pos, out, pos + 1, keep - pos - 1)
      out(pos) = h
      KmvBuf(keep, out)
    }

    def merge(a: KmvBuf, b: KmvBuf): KmvBuf = {
      if (a.n == 0) return b
      if (b.n == 0) return a
      val out = new Array[Long](math.min(a.n + b.n, k))
      var i = 0; var j = 0; var o = 0
      while (o < out.length && (i < a.n || j < b.n)) {
        val takeA = j >= b.n || (i < a.n && a.data(i) <= b.data(j))
        val v = if (takeA) a.data(i) else b.data(j)
        if (takeA) i += 1 else j += 1
        if (i < a.n && a.data(i) == v) i += 1 // cross-buffer duplicate
        if (j < b.n && b.data(j) == v) j += 1
        out(o) = v; o += 1
      }
      KmvBuf(o, if (o == out.length) out else java.util.Arrays.copyOf(out, o))
    }

    def finish(b: KmvBuf): Seq[Long] =
      (if (b.n == b.data.length) b.data
       else java.util.Arrays.copyOf(b.data, b.n)).toSeq

    def bufferEncoder: Encoder[KmvBuf] = kmvEnc
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** kmv_min_k(h) → ascending array of the ≤k smallest distinct hashes. */
  def kmvMinK(h: Column, k: Int): Column = udaf(new KmvAgg(k)).apply(h)

  // ------------------------------------------------- quantile sketch

  /** Multiplier for the engine-portable row-sampling hash
    * `(id % HashMod) · A mod HashMod` (Knuth's 2³²/φ constant). The
    * product stays under 2⁶³ (10⁹ · 2.7·10⁹ ≈ 2.7·10¹⁸), so the same
    * expression is exact BIGINT arithmetic in DuckDB — no overflow, no
    * engine-specific hash. Consecutive ids land ~6.5·10⁸ apart mod P,
    * so bottom-k by this hash is an unclumped uniform row sample even
    * over sequential id ranges. */
  val SampleHashA = 2654435761L

  /** The portable row-sampling hash as a Column (and [[sqlSampleHash]]
    * as its DuckDB mirror). */
  def sampleHash(id: Column): Column =
    (id % graft.functions.TextFunctions.HashMod) * SampleHashA %
      graft.functions.TextFunctions.HashMod

  def sqlSampleHash(e: String): String =
    s"(($e % ${graft.functions.TextFunctions.HashMod}) * $SampleHashA) % " +
      s"${graft.functions.TextFunctions.HashMod}"

  /** Sorted by (h, v) ascending, MULTISET (duplicates kept — two rows
    * with equal hash and value are two sample rows), at most k pairs.
    * Parallel arrays; like [[KmvBuf]], `hs`/`vs` may carry slack past
    * `n`. */
  final case class QsBuf(n: Int, hs: Array[Long], vs: Array[Double])

  private val qsEnc: Encoder[QsBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[QsBuf]()

  /** Mergeable quantile sketch for CONTINUOUS measures — the KMV
    * discipline applied to row sampling: keep the k rows whose
    * (portable) id-hash is smallest, lexicographic on (hash, value) so
    * the kept multiset is order-free and bitwise reproducible. The
    * finish is the sample's values sorted ascending; quantiles read off
    * it by nearest rank. Below k rows the sample IS the group and the
    * quantiles are exact; above, a bottom-k-by-hash sample is a uniform
    * k-subset, so the p-quantile estimate's rank error concentrates as
    * √(p(1−p)/k) (SketchesSpec bounds it at 3σ against the exact rank).
    *
    * Same scale shape as [[KmvAgg]]: a monoid (merge = bounded sorted
    * union), so map-side partial aggregation ships ≤k (hash, value)
    * pairs per group — O(groups·k) shuffle bytes — where an exact
    * quantile of a continuous measure would sort the corpus (continuous
    * values defeat q126's value-grain histogram: every value is its own
    * grain). Deterministic, so the DuckDB oracle derives the identical
    * sample with a rank window and the compare is bitwise. */
  final class QuantileSketchAgg(k: Int)
      extends Aggregator[(Long, Double), QsBuf, Seq[Double]] {
    require(k >= 2, s"quantile sketch needs k >= 2, got $k")

    def zero: QsBuf = QsBuf(0, Array.empty, Array.empty)

    def reduce(b: QsBuf, in: (Long, Double)): QsBuf = {
      val (h, v) = in
      // saturated and past the current kth pair: drop on the floor
      if (b.n == k && (h > b.hs(k - 1) || (h == b.hs(k - 1) && v >= b.vs(k - 1))))
        return b
      // insertion point: first index with (hs, vs) lexicographically > (h, v)
      var lo = 0; var hi = b.n
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (b.hs(m) < h || (b.hs(m) == h && b.vs(m) <= v)) lo = m + 1 else hi = m
      }
      val grow = b.n == b.hs.length && b.hs.length < k
      val cap = if (grow) math.min(k, math.max(16, b.hs.length * 2)) else b.hs.length
      val hs = if (grow) java.util.Arrays.copyOf(b.hs, cap) else b.hs
      val vs = if (grow) java.util.Arrays.copyOf(b.vs, cap) else b.vs
      val keep = math.min(b.n + 1, k)
      System.arraycopy(hs, lo, hs, lo + 1, keep - lo - 1)
      System.arraycopy(vs, lo, vs, lo + 1, keep - lo - 1)
      hs(lo) = h; vs(lo) = v
      QsBuf(keep, hs, vs)
    }

    def merge(a: QsBuf, b: QsBuf): QsBuf = {
      if (a.n == 0) return b
      if (b.n == 0) return a
      val m = math.min(a.n + b.n, k)
      val hs = new Array[Long](m); val vs = new Array[Double](m)
      var i = 0; var j = 0; var o = 0
      while (o < m) {
        val takeA = j >= b.n || (i < a.n &&
          (a.hs(i) < b.hs(j) || (a.hs(i) == b.hs(j) && a.vs(i) <= b.vs(j))))
        if (takeA) { hs(o) = a.hs(i); vs(o) = a.vs(i); i += 1 }
        else { hs(o) = b.hs(j); vs(o) = b.vs(j); j += 1 }
        o += 1
      }
      QsBuf(m, hs, vs)
    }

    /** Sample VALUES ascending — the hashes exist only to pick the
      * sample; quantiles are ranks over values. */
    def finish(b: QsBuf): Seq[Double] = {
      val out = java.util.Arrays.copyOf(b.vs, b.n)
      java.util.Arrays.sort(out)
      out.toSeq
    }

    def bufferEncoder: Encoder[QsBuf] = qsEnc
    def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** quantile_sample(h, v) → ascending value array of the ≤k-row
    * bottom-k-by-hash sample. */
  def quantileSample(h: Column, v: Column, k: Int): Column =
    udaf(new QuantileSketchAgg(k)).apply(h, v)
}
