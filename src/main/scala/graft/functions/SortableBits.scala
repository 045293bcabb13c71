package graft.functions

/** Order-preserving bit image of a double: `double` → `long` such that
  * `a < b  ⇔  bits(a) < bits(b)` (signed long comparison), for every
  * non-NaN double including negatives, ±0.0 (−0.0 sorts just below
  * +0.0) and subnormals.
  *
  * The mapping is the classic IEEE-754 trick (the same one Lucene and
  * parquet use for sortable doubles): positive doubles already order
  * by their raw bits; negative doubles order BACKWARDS by raw bits, so
  * flipping all the non-sign bits of negatives (`bits ^ ((bits >> 63)
  * & 0x7fffffffffffffffL)`) makes the whole domain monotone in one
  * signed-long comparison.
  *
  * Why it exists: [[graft.operators.Quantiles.exactMedianAnyScale]]
  * binary-searches the VALUE DOMAIN of a group instead of buffering
  * the group's values. Interval arithmetic on doubles accumulates
  * rounding at every bucket boundary (a value can fall on the wrong
  * side of `lo + b*w` recomputed in floating point); interval
  * arithmetic on the bit image is integer-exact, so the histogram a
  * pass counts and the range the next pass narrows to can never
  * disagree. Its callers never pass NaN (the quantile operators
  * exclude it; a total order over NaN is a sort concern, not a
  * quantile one).
  */
object SortableDoubleBits {

  /** Forward map. */
  def toSortable(d: Double): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    bits ^ ((bits >> 63) & 0x7fffffffffffffffL)
  }

  /** Inverse: the xor mask is an involution on the non-sign bits,
    * selected by the (unchanged) sign bit.
    */
  def fromSortable(s: Long): Double =
    java.lang.Double.longBitsToDouble(s ^ ((s >> 63) & 0x7fffffffffffffffL))
}
