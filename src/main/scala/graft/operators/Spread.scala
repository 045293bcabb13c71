package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism floor for CPU-heavy per-row kernels
  * (round 16, guide §2: derive partitioning from the input, never a
  * constant tuned for one deployment).
  *
  * The gate corpora are single-row-group parquet files, so their scans
  * are UNSPLITTABLE — one task runs the whole shingle/signature/token
  * kernel while the other cores idle (profiled at sf0.1: the
  * ngram-jaccard shingle stage 1.46 s on one task of a 32-core
  * session). A real 100 TB table scans as thousands of splits, so a
  * fixed repartition would be pure overhead there. This helper closes
  * exactly that gap and nothing else: when the frame carries FEWER
  * partitions than the session's default parallelism it hash-spreads
  * rows by a unique key to the default parallelism; otherwise it is a
  * no-op (zero added shuffles at scale).
  *
  * Correctness: every graft operator is partition-layout independent
  * by contract (`Soak layout` + the layout-invariance specs; survivor
  * draws are md5-keyed, orderings fully tie-broken), and the helpers
  * that DO observe physical layout (Prefix, batchPack, shardPack)
  * establish their own partitioning downstream of any Spread.
  *
  * Contract: call ONLY on exchange-free frames — a bare table scan or
  * a Stabilized (checkpointed) frame. On those `.rdd.getNumPartitions`
  * is a plan-only computation (file splits / checkpoint blocks); on a
  * frame WITH exchanges the same call would force AQE to execute the
  * upstream stages, running the plan twice.
  */
object Spread {

  def apply(df: DataFrame, key: Column): DataFrame = {
    // Contract enforced structurally (round 17, VERDICT r16 item 3):
    // on a frame with exchanges, `.rdd.getNumPartitions` would execute
    // the upstream plan HERE and again when the caller consumes the
    // frame. All call sites are bare scans (possibly projected or
    // filtered) or checkpointed values; anything else fails fast
    // instead of silently running twice.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
    df.queryExecution.optimizedPlan.foreach {
      case _: Project | _: Filter | _: SubqueryAlias => ()
      case leaf if leaf.children.isEmpty => ()
      case other => throw new IllegalArgumentException(
        "Spread contract: exchange-free scan frames only (a plan with " +
          s"'${other.nodeName}' would execute twice); Spread the scan, " +
          "not the derived frame")
    }
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p, key)
  }
}
