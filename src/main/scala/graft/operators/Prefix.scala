package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable global running sums.
  *
  * `Window.orderBy(...)` with no partition moves the whole frame to ONE
  * task ("WindowExec: No Partition Defined"). That is fine when the
  * frame is bounded by a small value domain (days, calendar months, a
  * top-100 head), but the value-histogram quantile queries (spend
  * cents, µs latencies, order totals) window over DISTINCT VALUES of a
  * continuous domain — at 100 TB distinct-value cardinality approaches
  * row cardinality and the single task dies.
  *
  * `runningSum` is the same cumsum computed the scale-safe way, and the
  * engine's one copy of it (the value-histogram quantiles,
  * `text_batch_pack`, `mm_shard_pack` and the pipeline's packing stage
  * all call it):
  *
  *   1. range-partition the frame on the cumsum ordering,
  *   2. window-cumsum LOCALLY within each physical partition,
  *   3. take per-(partition, group) totals — ≤ numParts × |groups|
  *      rows — and turn them into exclusive prefix offsets with a
  *      window over that tiny bounded frame,
  *   4. broadcast the offsets back and add.
  *
  * Because the summed value is integral (all call sites sum LongType
  * counts), the result is bit-identical to the single-partition
  * cumsum, so DuckDB oracles keep replaying the plain
  * `sum(...) OVER (ORDER BY ...)` formulation.
  */
object Prefix {

  /** Running sum of `value` over `df` ordered by `orderCols` (within
    * each `partCols` group if given), appended as `cumName`.
    *
    * Requires `orderCols` to be a UNIQUE key per group — true for
    * value histograms, where the frame was just grouped by the value —
    * so rows never tie across a range-partition boundary and the
    * inclusive frame is well-defined.
    */
  def runningSum(df: DataFrame, value: Column, cumName: String,
      orderCols: Seq[Column], partCols: Seq[String] = Nil,
      numParts: Int = 32): DataFrame = {
    val rangeCols = partCols.map(col) ++ orderCols
    val keyed = df.repartitionByRange(numParts, rangeCols: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window
      .partitionBy(col("__pid") +: partCols.map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Stabilize (checkpoint, NOT cache): totals and the final join
    // both read it, and __pid must be observed exactly once (a
    // recompute under AQE could re-plan the exchange). Lineage
    // truncation makes recompute impossible and leaves no
    // CacheManager entry; the executor-loss trade and the reliable-
    // checkpoint escape hatch for clusters are documented on
    // Stabilize.
    val local = Stabilize(keyed.withColumn("__cum_local", sum(value).over(wLocal)))
    val totals = local
      .groupBy(col("__pid") +: partCols.map(col): _*)
      .agg(sum(value).as("__ptotal"))
    // Exclusive prefix of the partition totals via a triangular
    // broadcast self-join (≤ numParts² tiny rows) — a constant-key
    // window would be constant-folded back into the unpartitioned
    // single-task WindowExec this helper exists to avoid.
    val a = totals.as("a")
    val b = totals.as("b")
    val cond = partCols.map(p => col(s"a.$p") === col(s"b.$p"))
      .foldLeft(col("b.__pid") < col("a.__pid"))(_ && _)
    val offsets = a.join(broadcast(b), cond, "left")
      .groupBy(col("a.__pid").as("__pid") +:
        partCols.map(p => col(s"a.$p").as(p)): _*)
      .agg(coalesce(sum(col("b.__ptotal")), lit(0L)).as("__offset"))
    local.join(broadcast(offsets), "__pid" +: partCols)
      .withColumn(cumName, col("__cum_local") + col("__offset"))
      .drop("__pid", "__cum_local", "__offset")
  }
}
