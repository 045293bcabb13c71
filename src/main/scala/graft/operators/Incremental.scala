package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental reload: the composition that replaces full-table
  * rebuilds at 100 TB. The reference's ETL is delete-then-insert of the
  * WHOLE table per run (etl_ecollision_fusion_table_collisions.py:
  * 124-135); here a run touches only the partitions that actually
  * changed:
  *
  *  1. `diff` the incoming snapshot against the current target on the
  *     PK — full-outer join, presence → insert/delete, null-safe
  *     column inequality → update;
  *  2. reduce the delta to the set of CHANGED partitions;
  *  3. rewrite only those partitions from the incoming snapshot
  *     (dynamic partition overwrite — deletes fall out because the
  *     whole partition is rebuilt from incoming).
  *
  * Unchanged partitions are never written. The diff reads both sides
  * once; at scale both sides arrive hash-partitioned on the PK if the
  * target is bucketed (Sink.writeBucketed), making the diff
  * shuffle-free.
  */
object Incremental {

  /** Generic PK snapshot diff. Emits the PK columns plus `change` ∈
    * insert | delete | update; unchanged rows are dropped. All shared
    * non-PK columns are compared null-safely.
    */
  def diff(target: DataFrame, incoming: DataFrame,
      pk: Seq[String]): DataFrame = {
    val shared = target.columns.toSet
      .intersect(incoming.columns.toSet).diff(pk.toSet).toSeq.sorted
    val t = shared
      .foldLeft(target.select((pk ++ shared).map(col): _*))(
        (df, c) => df.withColumnRenamed(c, s"__t_$c"))
      .withColumn("__in_t", lit(1))
    val i = incoming.select((pk ++ shared).map(col): _*)
      .withColumn("__in_i", lit(1))
    val differs: Column = shared
      .map(c => !(col(s"__t_$c") <=> col(c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    t.join(i, pk, "full_outer")
      .withColumn("change",
        when(col("__in_t").isNull, "insert")
          .when(col("__in_i").isNull, "delete")
          .when(differs, "update")
          .otherwise("same"))
      .filter(col("change") =!= "same")
      .select(pk.map(col) :+ col("change"): _*)
  }

  /** Run one incremental reload. Returns (changed partitions, rows
    * written). `partCol` must be present in both sides. The
    * changed-partition list is partition-METADATA-sized (not
    * data-sized), so collecting the fully-emptied subset on the driver
    * is bounded by partition count.
    */
  def run(spark: SparkSession, targetPath: String, incoming: DataFrame,
      pk: Seq[String], partCol: String,
      maxRecordsPerFile: Long = 0L): (Long, Long) = {
    val target = graft.sources.Tables.read(spark, targetPath)
    val delta = diff(target, incoming, pk)
    val partOfKey = incoming.select((pk :+ partCol).map(col): _*)
      .unionByName(target.select((pk :+ partCol).map(col): _*))
      .distinct()
    val changedParts = delta.join(partOfKey, pk)
      .select(col(partCol)).distinct().cache()
    val n = changedParts.count()
    if (n == 0) { changedParts.unpersist(); return (0L, 0L) }
    val newRows = incoming.join(changedParts, Seq(partCol), "left_semi").cache()
    val written = newRows.count()
    if (written > 0)
      graft.sources.Sink.overwritePartitionsDynamic(
        newRows, targetPath, Seq(partCol), maxRecordsPerFile)
    // A partition whose rows were ALL deleted never appears in newRows,
    // so dynamic overwrite cannot touch it — drop its directory.
    val emptied = changedParts
      .except(newRows.select(col(partCol)).distinct()).collect()
    if (emptied.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(targetPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { r =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$targetPath/$partCol=${r.get(0)}"), true)
      }
    }
    newRows.unpersist(); changedParts.unpersist()
    (n, written)
  }

  /** Mergeable per-key aggregate state: count / sum / min / max — the
    * partials every distributive aggregate decomposes into. This is
    * the unit a stored rollup table keeps per key so a new data chunk
    * updates it WITHOUT rescanning history.
    */
  def aggState(df: DataFrame, key: String, valueCol: String,
      tsCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("s"),
        min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"))

  /** Merge two state tables by key: counts/sums add, min/max fold —
    * a full-outer join on the key, each side at rollup (not raw)
    * cardinality. Associative and commutative, so daily states can
    * merge up to monthly/yearly without touching raw data.
    */
  def mergeState(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val bb = b.columns.filterNot(_ == key)
      .foldLeft(b)((df, c) => df.withColumnRenamed(c, s"__b_$c"))
    a.join(bb, Seq(key), "full_outer")
      .select(col(key),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__b_n"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0.0)) + coalesce(col("__b_s"), lit(0.0))).as("s"),
        least(col("first_ts"), col("__b_first_ts"))
          .as("first_ts"), // least/greatest skip nulls
        greatest(col("last_ts"), col("__b_last_ts")).as("last_ts"))
  }

  /** `q_incr_agg` surface: per-user rollup maintained incrementally —
    * state from events before the cut, state from the delta after it,
    * merged, then served (avg derived at read time from sum/count).
    * The oracle recomputes from ALL raw events in one pass: merging
    * partials must equal the full recompute — the associativity
    * contract that makes stored-state rollups trustworthy at 100 TB,
    * where "just rescan history" is not an option.
    */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.load(spark, dir, "events")
    val cut = lit("2024-01-20 00:00:00").cast("timestamp")
    val base = aggState(e.filter(col("ts") < cut), "user_id", "value", "ts")
    val delta = aggState(e.filter(col("ts") >= cut), "user_id", "value", "ts")
    // No derived avg column: sum/count with count a power of two lands
    // EXACTLY on decimal .5 rounding boundaries, where Spark (decimal-
    // string half-up) and DuckDB (binary half-even) legitimately
    // disagree — serve-time ratios belong downstream of the gate.
    mergeState(base, delta, "user_id")
      .select(col("user_id"), col("n").as("n_events"),
        round(col("s"), 2).as("sum_value"),
        col("first_ts"), col("last_ts"))
      .orderBy(col("user_id"))
  }
}
