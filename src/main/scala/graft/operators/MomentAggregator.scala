package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Fused one-pass accumulator for [[Pca.moments]] (the MinHashAggregator
  * idiom, A8): per input vector it quantizes each component ONCE by
  * floor(x·10⁹) — the identical double multiply + floor the expression
  * spelling performs — and adds the d first-moment terms plus the
  * d(d+1)/2 upper-triangle products into a signed 128-bit accumulator
  * per slot, held as (hi, lo) long pairs in one primitive buffer.
  *
  * 128-bit two's-complement addition is exact and associative, so the
  * slot sums are bit-identical to the DECIMAL(38,0) hash-aggregate sums
  * of the expression spelling under any partitioning (PcaSpec pins the
  * equivalence). Each quantum satisfies |q| < 2.9·10⁹ (enforced below,
  * same bound as the expression form's raise_error guard), so a product
  * fits a long and the 128-bit sum cannot saturate before ~10²⁰ rows.
  *
  * Buffer layout: slots 0..d-1 are first moments Σxᵢ, then the row-major
  * upper triangle Σxᵢxⱼ ([[MomentAggregator.prodSlot]]); each slot k
  * occupies buffer[2k] = hi, buffer[2k+1] = lo, and the final element
  * tracks the maximum observed vector length — the explode spelling
  * emits a (i, j) key iff SOME row reached those indices, and indices
  * observed by any row are exactly those below the max length.
  */
final class MomentAggregator(d: Int)
    extends Aggregator[Array[Float], Array[Long], Array[Long]] {

  private val nSlots = MomentAggregator.nSlots(d)

  override def zero: Array[Long] = new Array[Long](2 * nSlots + 1)

  @inline private def add128(buf: Array[Long], slot: Int, v: Long): Unit = {
    val lo = buf(2 * slot + 1)
    val r = lo + v
    // carry of unsigned lo addition (Hacker's Delight §2-16); v's high
    // word is its sign extension
    val carry = ((lo & v) | ((lo | v) & ~r)) >>> 63
    buf(2 * slot) += (v >> 63) + carry
    buf(2 * slot + 1) = r
  }

  override def reduce(buf: Array[Long], vec: Array[Float]): Array[Long] = {
    if (vec == null) return buf
    val len = math.min(vec.length, d)
    val q = new Array[Long](len)
    var i = 0
    while (i < len) {
      val x = vec(i)
      require(math.abs(x) < 2.9f,
        s"Pca.moments: embedding component out of quantization range: $x")
      q(i) = math.floor(x.toDouble * 1e9).toLong
      i += 1
    }
    i = 0
    while (i < len) {
      add128(buf, i, q(i))
      val qi = q(i)
      val base = MomentAggregator.prodSlot(d, i, i)
      var j = i
      while (j < len) {
        add128(buf, base + (j - i), qi * q(j))
        j += 1
      }
      i += 1
    }
    if (len > buf(2 * nSlots)) buf(2 * nSlots) = len
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var k = 0
    while (k < nSlots) {
      // 128-bit add of b's slot into a's
      val lo = a(2 * k + 1); val blo = b(2 * k + 1)
      val r = lo + blo
      val carry = ((lo & blo) | ((lo | blo) & ~r)) >>> 63
      a(2 * k) += b(2 * k) + carry
      a(2 * k + 1) = r
      k += 1
    }
    if (b(2 * nSlots) > a(2 * nSlots)) a(2 * nSlots) = b(2 * nSlots)
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

object MomentAggregator {
  /** First-moment slots [0, d), then the row-major upper triangle. */
  def nSlots(d: Int): Int = d + d * (d + 1) / 2

  /** Slot of Σxᵢxⱼ for 0 <= i <= j < d. */
  def prodSlot(d: Int, i: Int, j: Int): Int =
    d + i * d - i * (i - 1) / 2 + (j - i)
}
