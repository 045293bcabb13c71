package graft.plans

import scala.util.Try

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, BinaryComparison, Expression, In, InSet, Literal,
  ScalaUDF, StringPredicate}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{
  CollectLimitExec, FileSourceScanExec, SortExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}

/** One plan-lint finding. Severity is `error` (will not survive a
  * large input), `warn` (survives only when a side/result is bounded —
  * a human must confirm the bound), or `info` (worth knowing, usually
  * fine).
  */
final case class LintFinding(
    rule: String, severity: String, node: String, detail: String)

/** Static scale lint over a physical plan: the checklist the per-round
  * plan audit (docs/PLAN_AUDIT.md) applies by hand, as a library call a
  * pipeline can run in CI before pointing a query at 100 TB.
  *
  * Rules (each encodes a measured failure mode from docs/SCALING.md /
  * docs/CLUSTER.md rather than a style preference):
  *
  *  - `cartesian-product` (error): a non-broadcast cartesian pairs
  *    every partition with every other — quadratic shuffle, no input
  *    size survives it.
  *  - `nested-loop-join` (warn): BroadcastNestedLoopJoin is linear in
  *    the fact side but compares every row against the WHOLE broadcast
  *    side; fine for one-row/bounded aggregates and spines (this
  *    repo's only uses), fatal when the broadcast side grows with the
  *    data.
  *  - `single-partition-exchange` (warn): a 1-partition shuffle
  *    serializes the stage onto one task — bounded-by-design heads
  *    (top-k, calendar grids) are fine, fact tables are not.
  *  - `udf-in-plan` (warn): a Scala UDF blocks whole-stage codegen and
  *    ships closures; prefer `functions._` or a codegen Expression.
  *  - `unpushed-scan-filter` (warn): the scan carries data filters
  *    that will not reach the parquet reader — the source could not
  *    translate them, `spark.sql.parquet.filterPushdown` is off, or
  *    the filter compares a TIMESTAMP_NTZ column (the plan's
  *    PushedFilters reflect the source-Filter TRANSLATION, but the
  *    reader-side ParquetFilters layer drops NTZ literals, so the
  *    advertised pushdown skips nothing — measured in the layout
  *    soak). Either way every row is read and decoded before
  *    filtering — at 100 TB the difference between a pushed and an
  *    unpushed predicate is the whole scan.
  *  - `non-broadcast-small-side` (info under AQE, warn without): a
  *    shuffle join whose smaller side's optimizer estimate fits
  *    `spark.sql.autoBroadcastJoinThreshold` — the one threshold the
  *    planner and AQE broadcast by, so a flagged join is one the
  *    planner's own size check did not take (a hint or join type kept
  *    it out, or plan-time stats missed it); AQE usually rescues this
  *    at runtime from actual shuffle sizes (hence info), but with AQE
  *    off it is a real lost broadcast.
  *  - `large-collect-limit` (warn): a CollectLimit above 1M rows
  *    materializes on the driver.
  *  - `unpruned-partitioned-scan` (info): a partitioned table scanned
  *    with no partition filter. An intent smell — the table was
  *    partitioned so queries could prune and this one doesn't (missing
  *    or non-foldable predicate, or the wrong partition column for the
  *    workload) — not a measured full-scan cost: warm order-controlled
  *    runs put the month-partitioned full scan slightly AHEAD of the
  *    unpartitioned base (the directory value is free where the base
  *    derives it per row).
  *  - `bucketed-smj-resort` (warn): a sort-merge join side that reads
  *    a BUCKETED scan with an in-task Sort and no shuffle between scan
  *    and join. Bucketing removed the exchange, but Spark ≥3.0 bucket
  *    scans do not report per-bucket sort order, so the SMJ re-sorts
  *    every bucket inside the task — measured in the r10 layout soak
  *    at 1000x: SLOWER than the unbucketed join (153 s vs 118 s) and
  *    fatal in an 8 GB heap, while the same join runs 19x faster with
  *    `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (the
  *    buckets were written sorted) or 14x with a SHUFFLE_HASH hint
  *    (hash joins don't need order). The win bucketing promised is
  *    real — the default plan just doesn't collect it.
  *  - `codegen-gap` (info): a codegen-capable Filter/Project/Aggregate
  *    left outside every WholeStageCodegen span. Only assessed when
  *    the tree contains at least one span (under AQE, codegen collapse
  *    happens per-stage at materialization, so a pre-execution plan is
  *    skipped rather than false-flagged).
  *
  * Lint is STATIC: it reads `df.queryExecution.executedPlan` without
  * running the query (under AQE that is the initial plan — the one
  * whose anti-patterns you must fix; AQE can re-plan stages but never
  * un-cartesian a join). `lintPlan` accepts an already-executed plan
  * for post-run audits (graft.ExplainAudit does this).
  */
object PlanLint {

  val severityRank: Map[String, Int] =
    Map("info" -> 0, "warn" -> 1, "error" -> 2)

  /** Every node reachable from `root`, descending through AQE wrappers
    * (AdaptiveSparkPlanExec holds the current plan, QueryStageExec the
    * stage body) and expression subqueries.
    */
  def walk(root: SparkPlan): Seq[SparkPlan] = {
    def deep(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: (kids ++ p.subqueries).flatMap(deep)
    }
    deep(root)
  }

  def lint(df: Dataset[_]): Seq[LintFinding] = {
    val conf = df.sparkSession.sessionState.conf
    lintPlan(df.queryExecution.executedPlan,
      conf.autoBroadcastJoinThreshold, conf.adaptiveExecutionEnabled,
      conf.parquetFilterPushDown)
  }

  def lintPlan(root: SparkPlan, autoBroadcastThreshold: Long,
      adaptiveEnabled: Boolean, parquetPushdownEnabled: Boolean = true)
      : Seq[LintFinding] = {
    val nodes = walk(root)
    val out = Seq.newBuilder[LintFinding]

    nodes.foreach {
      case c: CartesianProductExec =>
        out += LintFinding("cartesian-product", "error", c.nodeName,
          "non-broadcast cartesian join: every partition pairs with " +
            "every other; no input size survives this at scale")
      case b: BroadcastNestedLoopJoinExec =>
        val cond = b.condition.map(_.sql).getOrElse("<none>")
        out += LintFinding("nested-loop-join", "warn", b.nodeName,
          s"compares each row against the whole broadcast side " +
            s"(condition: $cond); safe only when the broadcast side is " +
            "bounded by construction (one-row aggregate, spine, grid)")
      case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 =>
        out += LintFinding("single-partition-exchange", "warn", e.nodeName,
          "one-partition shuffle serializes the stage onto a single " +
            "task; acceptable for bounded heads (top-k, calendar " +
            "grids), fatal for fact-sized inputs")
      case c: CollectLimitExec if c.limit > 1000000 =>
        out += LintFinding("large-collect-limit", "warn", c.nodeName,
          s"collects ${c.limit} rows onto the driver")
      case s: FileSourceScanExec if s.dataFilters.nonEmpty &&
          s.metadata.get("PushedFilters").contains("[]") &&
          hasPushableShape(s.dataFilters) =>
        out += LintFinding("unpushed-scan-filter", "warn", s.nodeName,
          s"scan evaluates ${s.dataFilters.size} filter(s) after " +
            "decoding every row — none were translated to source " +
            s"pushdown (filters: ${s.dataFilters.map(_.sql).mkString(", ").take(200)})")
      case s: FileSourceScanExec
          if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
            hasNtzComparison(s.dataFilters) =>
        // Measured (docs/SCALING.md round 10, layout soak): a pushed
        // filter on a TIMESTAMP_NTZ column never skips a row group —
        // the plan's PushedFilters come from the source-Filter
        // translation, but ParquetFilters (the layer that builds the
        // actual parquet predicate) accepts java.sql.Timestamp /
        // java.time.Instant values and an NTZ literal arrives as
        // LocalDateTime, so no predicate is ever handed to the reader.
        // An identical out-of-range filter on a LONG column of the
        // same files skips everything. Revisit if a later Spark adds
        // LocalDateTime to ParquetFilters.valueCanMakeFilterOn.
        out += LintFinding("unpushed-scan-filter", "warn", s.nodeName,
          "filter on a TIMESTAMP_NTZ column: pushdown is advertised in " +
            "the plan but inert in the parquet reader (no row-group " +
            "skipping) — cluster and filter on a DATE, epoch-long, or " +
            "session-TZ TIMESTAMP twin column instead (under a UTC " +
            "session the LTZ cast preserves every instant)")
      case s: FileSourceScanExec if s.dataFilters.nonEmpty &&
          !parquetPushdownEnabled &&
          s.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
        // `PushedFilters` in the plan shows the TRANSLATED filters, but
        // the parquet reader consults spark.sql.parquet.filterPushdown
        // at read time — with it off, the plan advertises pushdown that
        // never happens (easy to leave behind after debugging a
        // pushdown issue).
        out += LintFinding("unpushed-scan-filter", "warn", s.nodeName,
          "spark.sql.parquet.filterPushdown is false: the scan's " +
            "PushedFilters are advertised in the plan but ignored by " +
            "the parquet reader — every row group is read and decoded")
      case s: FileSourceScanExec
          if s.relation.partitionSchema.nonEmpty &&
            s.partitionFilters.isEmpty =>
        // intent smell, not a measured cost: the table was partitioned
        // so queries could prune, and this one doesn't — either the
        // predicate is missing/non-foldable or the partition column is
        // the wrong one for this workload. (Warm full-scan cost of the
        // month-partitioned layout measured FINE — slightly faster
        // than unpartitioned, the directory value is free — but a
        // layout accreted by many incremental writes degrades into
        // small files unless compacted.)
        out += LintFinding("unpruned-partitioned-scan", "info", s.nodeName,
          s"scan of a table partitioned by " +
            s"[${s.relation.partitionSchema.fieldNames.mkString(", ")}] " +
            "with no partition filter: every directory is listed and " +
            "read — if this query was meant to prune, the predicate " +
            "did not reach the scan")
      case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec) =>
        smallSideEstimate(j, autoBroadcastThreshold).foreach { small =>
          val (sev, rescue) =
            if (adaptiveEnabled)
              ("info", "AQE usually converts this to broadcast at " +
                "runtime from actual shuffle sizes")
            else ("warn", "AQE is off — the broadcast is genuinely lost")
          out += LintFinding("non-broadcast-small-side", sev, j.nodeName,
            f"smaller side estimated at $small%d bytes, within the " +
              f"broadcast threshold ($autoBroadcastThreshold%d); $rescue")
        }
      case _ =>
    }

    nodes.foreach {
      case j: SortMergeJoinExec =>
        Seq("left" -> j.left, "right" -> j.right).foreach { case (name, side) =>
          val sub = noShuffleSubtree(side)
          if (sub.exists(_.isInstanceOf[SortExec]) &&
              sub.exists { case s: FileSourceScanExec => s.bucketedScan
                           case _ => false }) {
            out += LintFinding("bucketed-smj-resort", "warn", j.nodeName,
              s"$name side sorts a bucketed scan inside the task (bucket " +
                "scans don't report sort order, so the SMJ re-sorts every " +
                "bucket in memory — measured at 1000x: slower than not " +
                "bucketing at all, fatal in small heaps); set " +
                "spark.sql.legacy.bucketedTableScan.outputOrdering=true " +
                "if the buckets were written sorted (19x), or hint " +
                "SHUFFLE_HASH (14x)")
          }
        }
      case _ =>
    }

    nodes.foreach { p =>
      if (p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))) {
        out += LintFinding("udf-in-plan", "warn", p.nodeName,
          "Scala UDF blocks whole-stage codegen and ships a closure; " +
            "prefer org.apache.spark.sql.functions or a codegen Expression")
      }
    }

    // codegen gaps: only meaningful once CollapseCodegenStages ran
    if (nodes.exists(_.isInstanceOf[WholeStageCodegenExec])) {
      val inSpan = nodes.collect { case w: WholeStageCodegenExec => w }
        .flatMap(w => walk(w.child)).toSet
      nodes.foreach {
        case p: org.apache.spark.sql.execution.FilterExec if !inSpan(p) =>
          out += codegenGap(p)
        case p: org.apache.spark.sql.execution.ProjectExec if !inSpan(p) =>
          out += codegenGap(p)
        case p: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            if !inSpan(p) => out += codegenGap(p)
        case _ =>
      }
    }
    out.result()
  }

  /** Nodes reachable from `p` without crossing a shuffle — the subtree
    * that executes inside one task pipeline. Descends through AQE
    * wrappers; a shuffle query stage stops at its exchange.
    */
  private def noShuffleSubtree(p: SparkPlan): Seq[SparkPlan] = {
    def deep(x: SparkPlan): Seq[SparkPlan] = x match {
      case _: ShuffleExchangeExec => Seq.empty
      case a: AdaptiveSparkPlanExec => x +: deep(a.executedPlan)
      case q: QueryStageExec => x +: deep(q.plan)
      case other => x +: other.children.flatMap(deep)
    }
    deep(p)
  }

  private def codegenGap(p: SparkPlan): LintFinding =
    LintFinding("codegen-gap", "info", p.nodeName,
      "codegen-capable operator outside every WholeStageCodegen span")

  /** Smaller-side optimizer estimate when it fits the broadcast
    * threshold — from the logical Join this physical join was planned
    * from. None when stats are unavailable or the side is big.
    */
  private def smallSideEstimate(
      j: SparkPlan, threshold: Long): Option[BigInt] =
    if (threshold <= 0) None
    else j.logicalLink.collect { case lj: Join =>
      Try {
        val small = lj.left.stats.sizeInBytes.min(lj.right.stats.sizeInBytes)
        if (small <= threshold) Some(small) else None
      }.toOption.flatten
    }.flatten

  /** A comparison of a TIMESTAMP_NTZ attribute against a literal —
    * the shape whose parquet pushdown is advertised but inert (see the
    * rule above).
    */
  private def hasNtzComparison(filters: Seq[Expression]): Boolean =
    filters.exists(_.exists {
      case cmp: BinaryComparison =>
        Seq(cmp.left, cmp.right).exists {
          case a: AttributeReference =>
            a.dataType == org.apache.spark.sql.types.TimestampNTZType
          case _ => false
        } && Seq(cmp.left, cmp.right).exists(_.isInstanceOf[Literal])
      case _ => false
    })

  /** A filter shaped like something a columnar source CAN usually
    * push: attribute-vs-literal comparison, IN, or a string-prefix
    * predicate. Filters on computed values are excluded — not pushable,
    * not worth flagging.
    */
  private def hasPushableShape(filters: Seq[Expression]): Boolean =
    filters.exists(_.exists {
      case cmp: BinaryComparison =>
        (cmp.left.isInstanceOf[AttributeReference] &&
          cmp.right.isInstanceOf[Literal]) ||
        (cmp.right.isInstanceOf[AttributeReference] &&
          cmp.left.isInstanceOf[Literal])
      case In(_: AttributeReference, vs) => vs.forall(_.isInstanceOf[Literal])
      case InSet(_: AttributeReference, _) => true
      case sp: StringPredicate => sp.left.isInstanceOf[AttributeReference] &&
        sp.right.isInstanceOf[Literal]
      case _ => false
    })

  /** Human-readable lint report (one line per finding, worst first). */
  def report(df: Dataset[_]): String = {
    val fs = lint(df).sortBy(f => -severityRank(f.severity))
    if (fs.isEmpty) "plan-lint: clean"
    else fs.map(f => s"[${f.severity}] ${f.rule} @ ${f.node}: ${f.detail}")
      .mkString("\n")
  }

  /** CI gate: throw when any finding at or above `failOn` severity is
    * present (default: errors only — `warn` covers patterns that are
    * legitimate when a side is bounded, which a static lint cannot
    * prove).
    */
  def assertClean(df: Dataset[_], failOn: String = "error"): Unit = {
    val bar = severityRank(failOn)
    val bad = lint(df).filter(f => severityRank(f.severity) >= bar)
    if (bad.nonEmpty) {
      throw new AssertionError(
        s"plan lint found ${bad.size} finding(s) at or above '$failOn':\n" +
          bad.map(f => s"[${f.severity}] ${f.rule} @ ${f.node}: ${f.detail}")
            .mkString("\n"))
    }
  }
}
