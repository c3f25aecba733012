package graftbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.StructType

/** The benchmark's arithmetic: percentiles, interval unions and result
  * fingerprints. Pure functions, pinned by StatsSpec. */
object Stats {
  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Samples strictly above the nearest-rank `p` position. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** Whether `n` samples support reporting percentile `p`: at least ten
    * samples must lie beyond it. */
  def supports(n: Int, p: Double): Boolean = beyond(n, p) >= 10

  /** The fewest samples that support percentile `p`. */
  def samplesFor(p: Double): Int = Iterator.from(1).find(supports(_, p)).get

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Union of `intervals` clipped to the window [from, to). */
  def coveredWithin(intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) })

  /** An order-independent digest of a result: its row count and the sum
    * (mod 2^64) of a 64-bit hash of each row's binary form. Equal
    * multisets of rows give equal fingerprints in any order. */
  case class Fingerprint(rows: Long, hash: Long) {
    def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
    def render: String = f"$rows:$hash%016x"
  }

  object Fingerprint {
    val empty: Fingerprint = Fingerprint(0, 0)

    /** Fold an iterator of rows with `schema` into a fingerprint. */
    def of(schema: StructType, rows: Iterator[InternalRow]): Fingerprint = {
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { row =>
        val u = proj(row)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Fingerprint(n, h)
    }

    def parse(s: String): Fingerprint = {
      val Array(n, h) = s.split(":")
      Fingerprint(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
    }
  }
}
