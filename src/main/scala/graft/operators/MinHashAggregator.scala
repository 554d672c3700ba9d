package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Custom typed aggregate (SURVEY.md §2.7 A8 — the engine's one custom
  * UDAF): fuses the `numPerms` per-permutation minima into a single
  * `Aggregator` whose buffer is one primitive long[], updated in a tight
  * JVM loop per shingle hash.
  *
  * The expression alternative (`numPerms` separate `min()` aggregate
  * columns) carries per-permutation aggregate-buffer bookkeeping through
  * codegen; the fused buffer does one array pass per input row and one
  * element-wise min per merge, and is partial-aggregation friendly exactly
  * like built-in aggregates (reduce = map-side combine, merge =
  * shuffle-side combine).
  *
  * Input is the base shingle hash `pmod(xxhash64(s), Prime)`; permutation
  * parameters are seeded identically to MinHashLSH.perms, so both
  * formulations produce bit-identical signatures. The reduce loop is
  * MinHashLSH.permuteMin, which the driver-bound per-row kernel
  * (MinHashLSH.collectWithSignatures) runs too.
  */
final class MinHashAggregator(numPerms: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {

  // (a, b) pairs flattened for cheap indexed access in the hot loop
  private val ab: Array[Long] = MinHashLSH.permParams(numPerms)

  override def zero: Array[Long] = Array.fill(numPerms)(Long.MaxValue)

  override def reduce(buf: Array[Long], h: Long): Array[Long] = {
    MinHashLSH.permuteMin(buf, h, ab)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    MinHashLSH.mergeMin(a, b)

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
