package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join, tier (c) of the custom-operator ladder:
  * a LOGICAL node, a planner STRATEGY, and a PHYSICAL exec that
  * streams a single forward merge per partition.
  *
  * Semantics: for every left row, attach the latest right row with the
  * same key whose timestamp is <= the left timestamp (ties inclusive),
  * or nulls if none — the reference's "latest status at-or-before the
  * cutoff" (create_view_vw_valid_collision_from_oracle.sql:59-107) as
  * a first-class operator.
  *
  * Why a custom exec beats the window formulation at scale: the union+
  * last(ignoreNulls) window plan must buffer/sort BOTH sides into one
  * frame and run a running-fill over every row; this exec asks Spark
  * for co-partitioned inputs sorted by (key, ts) — EnsureRequirements
  * plans ONE shuffle+sort per side — then joins with an O(1)-state
  * pointer walk per partition: no window buffer, no union row blowup,
  * early-out per left row. Requirements are declared, so AQE and
  * reuse still apply.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    // true = the broadcast exec, false = the co-partitioned merge
    broadcast: Boolean) extends BinaryNode {
  // Right-side columns become nullable: unmatched left rows emit nulls.
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Strategy = the operator's own JoinSelection: the caller picks the
  * exec. A broadcast node plans as the BROADCAST exec — the fact side
  * is never shuffled at all — and any other as the co-partitioned
  * streaming merge.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, true) =>
      BroadcastAsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case AsOfJoin(l, r, lk, rk, lt, rt, false) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Broadcast as-of join: collect the (dim-sized) right side once,
  * group it per key into ts-sorted arrays, broadcast, and probe with a
  * hash lookup + binary search per left row — the feature-store
  * point-in-time lookup shape. The left (fact) side declares NO
  * distribution requirement: at 100 TB the fact table flows straight
  * from the scan through this operator with zero shuffles, which the
  * co-partitioned merge can't offer.
  */
case class BroadcastAsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTs = BindReferences.bindReference(rightTs, right.output)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
      .asInstanceOf[Ordering[Any]]
    // Build the broadcast index once on the driver: key → rows sorted
    // by ts (stable sort keeps insertion order on ties, matching the
    // merge exec on tie-free inputs), ts values pre-evaluated.
    val byKey = new scala.collection.mutable.HashMap[Any,
      scala.collection.mutable.ArrayBuffer[InternalRow]]
    right.executeCollect().foreach { row =>
      val k = rKey.eval(row)
      if (k != null)
        byKey.getOrElseUpdate(k,
          new scala.collection.mutable.ArrayBuffer[InternalRow]) += row
    }
    val index: Map[Any, (Array[InternalRow], Array[Any])] = byKey.iterator.map {
      case (k, rows) =>
        val sorted = rows.sortWith((a, b) => tsOrd.compare(rTs.eval(a), rTs.eval(b)) < 0).toArray
        (k, (sorted, sorted.map(rTs.eval)))
    }.toMap
    val bc = sparkContext.broadcast(index)
    val nRight = right.output.size
    val outputAttrs = output
    val leftOutput = left.output
    val lKeyExpr = leftKey
    val lTsExpr = leftTs
    left.execute().mapPartitions { iter =>
      val idx = bc.value
      val lKeyB = BindReferences.bindReference(lKeyExpr, leftOutput)
      val lTsB = BindReferences.bindReference(lTsExpr, leftOutput)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      iter.map { lRow =>
        val k = lKeyB.eval(lRow)
        val t = lTsB.eval(lRow)
        val matched: InternalRow =
          if (k == null || t == null) null
          else idx.get(k) match {
            case Some((rows, tss)) =>
              // binary search: last right row with ts <= t
              var lo = 0; var hi = rows.length - 1; var found = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                if (tss(mid) != null && tsOrd.compare(tss(mid), t) <= 0) {
                  found = mid; lo = mid + 1
                } else hi = mid - 1
              }
              if (found >= 0) rows(found) else null
            case None => null
          }
        proj(joined(lRow, if (matched != null) matched else nullRight))
      }
    }
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    // Expression (not Attribute): plan preparation rewrites these to
    // BoundReference, and makeCopy must accept that.
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Ask the planner for hash-co-partitioned children... */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  /** ...sorted by (key, ts) so the merge is one forward pass. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTs = BindReferences.bindReference(leftTs, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTs = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val nRight = right.output.size
    val outputAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      // O(1) merge state: the right cursor plus the latest right row
      // seen for the cursor's current key.
      var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
      var lastMatch: InternalRow = null
      var lastMatchKey: Any = null
      lIter.map { lRow =>
        val k = lKey.eval(lRow)
        val t = lTs.eval(lRow)
        if (k != null && t != null) {
          var advancing = true
          while (advancing && rHead != null) {
            val rk = rKey.eval(rHead)
            val rt = rTs.eval(rHead)
            val cmp = if (rk == null) -1 else keyOrd.compare(rk, k)
            if (cmp < 0 || (cmp == 0 && rt != null && tsOrd.compare(rt, t) <= 0)) {
              if (cmp == 0 && rt != null) {
                lastMatch = rHead.copy()
                lastMatchKey = rk
              }
              rHead = if (rIter.hasNext) rIter.next() else null
            } else advancing = false
          }
        }
        val matched = k != null && lastMatchKey != null &&
          keyOrd.compare(lastMatchKey, k) == 0
        proj(joined(lRow, if (matched) lastMatch else nullRight))
      }
    }
  }
}

/** DataFrame-facing API + extension registration. */
object AsOfJoinOps {
  import org.apache.spark.sql.graftbridge.DatasetBridge

  /** Native as-of join on analyzed frames; keys/timestamps resolved by
    * name per side. Rename right columns first if they collide with
    * left ones (the node concatenates both outputs).
    */
  def asOfJoinNative(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String): DataFrame =
    asOf(spark, left, right, leftKey, rightKey, leftTs, rightTs, broadcast = false)

  /** The broadcast variant: identical semantics, right side collected
    * + indexed + broadcast, fact side never shuffled.
    */
  def asOfJoinBroadcastNative(spark: SparkSession, left: DataFrame,
      right: DataFrame, leftKey: String, rightKey: String,
      leftTs: String, rightTs: String): DataFrame =
    asOf(spark, left, right, leftKey, rightKey, leftTs, rightTs, broadcast = true)

  private def asOf(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      broadcast: Boolean): DataFrame = {
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name).mkString(",")}"))
    DatasetBridge.ofRows(spark,
      AsOfJoin(lPlan, rPlan,
        attr(lPlan, leftKey), attr(rPlan, rightKey),
        attr(lPlan, leftTs), attr(rPlan, rightTs), broadcast))
  }
}
