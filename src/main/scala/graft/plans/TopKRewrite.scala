package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.functions.BoundedTopK

/** Optimizer rule: rewrite the rank-filter window idiom
  *
  *   Filter(rn <= k, Window(rn = row_number() OVER (PARTITION BY p ORDER BY o), child))
  *
  * into the bounded-heap aggregate + re-explode
  *
  *   Project(child cols from struct, rn = pos + 1,
  *     Generate(posexplode(arr),
  *       Aggregate(p, arr = graft_topk(struct(sort keys…, child cols…), k), child)))
  *
  * Why: Spark's own rank-limit pushdown (InferWindowGroupLimit,
  * SPARK-37099) already prunes each map partition to k rows per group
  * — but it still SORTS every map partition and re-sorts after the
  * shuffle, because WindowGroupLimitExec and WindowExec both demand
  * sorted input. The aggregate form needs NO sort anywhere: a k-row
  * heap per group per map task (partial aggregation), heap merges
  * reduce-side, one posexplode. The shuffle carries the same
  * |groups|·k rows, minus both sorts; for the ungrouped case the
  * heap replaces a single-partition window outright. Semantics are
  * identical whenever the ORDER BY is total (the repo convention:
  * every rank carries a unique tie-break); on genuinely tied rows the
  * window's pick is arbitrary anyway.
  *
  * Conservative by construction — the rewrite fires only when:
  *  - the Window node computes exactly one expression: row_number
  *    (optionally cast to a wider integral type);
  *  - the filter is exactly `rn <= k` / `rn < k` / `rn = 1` with a
  *    foldable integral k;
  *  - every ORDER BY key is Descending with default null ordering, or
  *    Ascending over an integral column (widened + negated, nulls to
  *    the NULLS FIRST sentinel; floats are excluded — negation breaks
  *    NaN ordering — and timestamps/strings have no negation).
  * Anything else is left untouched. Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.TopKRewrite` turns
  * the rule off.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond,
          Window(Seq(alias @ Alias(rnExpr, _)), part, order, child, _))
          if order.nonEmpty =>
        (stripRowNumber(rnExpr), rankLimit(cond, alias.toAttribute)) match {
          case (Some(castTo), Some(k)) if k > 0 && order.forall(invertible) =>
            rewrite(alias, castTo, part, order, child, k)
          case _ => f
        }
    }

  /** Accept `row_number()` bare or under a single integral Cast;
    * returns the cast target (None = plain IntegerType).
    */
  private def stripRowNumber(e: Expression): Option[Option[DataType]] = e match {
    case WindowExpression(_: RowNumber, _) => Some(None)
    case Cast(WindowExpression(_: RowNumber, _), t @ (ByteType | ShortType |
        IntegerType | LongType), _, _) =>
      Some(Some(t))
    case _ => None
  }

  private def rankLimit(cond: Expression, rn: Attribute): Option[Int] = {
    def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) if v <= Int.MaxValue => Some(v.toInt)
      case _ => None
    }
    cond match {
      case LessThanOrEqual(a: AttributeReference, l) if a.exprId == rn.exprId =>
        lit(l)
      case LessThan(a: AttributeReference, l) if a.exprId == rn.exprId =>
        lit(l).map(_ - 1)
      case EqualTo(a: AttributeReference, l) if a.exprId == rn.exprId =>
        lit(l).filter(_ == 1)
      case GreaterThanOrEqual(l, a: AttributeReference) if a.exprId == rn.exprId =>
        lit(l)
      case _ => None
    }
  }

  private def invertible(so: SortOrder): Boolean = so.direction match {
    case Descending => so.nullOrdering == NullsLast
    case Ascending => so.nullOrdering == NullsFirst &&
      (so.child.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
  }

  /** Heap key for one ORDER BY key: identity for DESC; for ASC the
    * value is widened to long and negated so the heap's "largest" is
    * the ascending first, with NULL mapped to Long.MaxValue — NULLS
    * FIRST means null outranks everything. (Long.MinValue inputs and
    * a genuine -Long.MaxValue collide with this encoding; rank keys
    * are ids/counts in practice, and ties fall through to the next
    * key and the payload.)
    */
  private def heapKey(so: SortOrder): Expression = so.direction match {
    case Descending => so.child
    case Ascending =>
      val neg = UnaryMinus(Cast(so.child, LongType))
      if (so.child.nullable) Coalesce(Seq(neg, Literal(Long.MaxValue))) else neg
  }

  private def rewrite(alias: Alias, castTo: Option[DataType],
      part: Seq[Expression], order: Seq[SortOrder], child0: LogicalPlan,
      k: Int): LogicalPlan = {
    // If Spark's rank-limit pushdown already inserted a
    // WindowGroupLimit for this window, drop it — the heap subsumes
    // the pruning and, unlike WindowGroupLimitExec, needs no sorted
    // input.
    val child = child0 match {
      case WindowGroupLimit(p, o, _: RowNumber, limit, grandchild)
          if p == part && o == order && limit >= k => grandchild
      case other => other
    }
    // ranking struct: sort keys first (ascending keys negated so the
    // heap's "largest" is the window's rank 1), full row as payload
    val sortFields = order.zipWithIndex.map { case (so, i) =>
      (s"_k$i", heapKey(so))
    }
    val payloadFields = child.output.zipWithIndex.map {
      case (a, i) => (s"_p$i", a: Expression)
    }
    val struct = CreateNamedStruct((sortFields ++ payloadFields).flatMap {
      case (n, e) => Seq(Literal(n), e)
    })
    val arrAlias = Alias(
      BoundedTopK(struct, Literal(k)).toAggregateExpression(), "graft_topk_arr")()
    val aggregate = Aggregate(part, Seq(arrAlias), child)

    val structType = struct.dataType.asInstanceOf[StructType]
    val posAttr = AttributeReference("graft_pos", IntegerType, nullable = false)()
    val colAttr = AttributeReference("graft_col", structType, nullable = false)()
    val generate = Generate(PosExplode(arrAlias.toAttribute),
      unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
      generatorOutput = Seq(posAttr, colAttr), aggregate)

    val nSort = sortFields.length
    // restore the ORIGINAL attribute ids so everything above the old
    // Filter keeps resolving
    val restored = child.output.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(colAttr, nSort + i, Some(s"_p$i")), a.name)(
        exprId = a.exprId, qualifier = a.qualifier)
    }
    val rnBase: Expression = Add(posAttr, Literal(1))
    val rnVal = castTo.map(t => Cast(rnBase, t)).getOrElse(rnBase)
    val rnAlias = Alias(rnVal, alias.name)(exprId = alias.exprId)
    Project(restored :+ rnAlias, generate)
  }
}
