package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet sinks: the reference's delete-then-insert / create-or-append
  * table writes (/root/reference/etl_ecollision_fusion_table_collisions
  * .py:124-135, helper_db_operation.py drop/create paths) as atomic-ish
  * distributed parquet writes.
  *
  * Scale posture: writes are partitioned-parallel (one file per task);
  * upsert is one window over the key — never a per-row DELETE round
  * trip; the staging-swap keeps readers from seeing a half-written
  * overwrite of a table that feeds the same job.
  *
  * On local disk (`file:`) these writes start no process: the session's
  * local filesystem ([[LocalFileSystemNoFork]], set by
  * [[graft.GraftSession.builder]]) sets each file's and directory's
  * permission in-process, where Hadoop's forks a chmod per file.
  */
object Sink {

  /** Overwrite the target (the delete-then-insert semantics), optionally
    * hive-style partitioned for downstream partition pruning.
    */
  def overwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Clustered layout for data skipping: range-partition on the sort
    * key, sort within each partition, and cap the parquet row-group
    * size. Each row group's footer then covers a narrow key range, so
    * a pushed-down point/range predicate skips all but the matching
    * groups — at 100 TB this is the difference between scanning a
    * table and scanning a few megabytes. The write costs one range
    * shuffle (sampled boundaries, balanced output files), paid once at
    * ingest like bucketing.
    */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
      numFiles: Int = 8, rowGroupBytes: Long = 1L << 20): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .parquet(path)

  /** Morton (Z-order) interleave of two non-negative integer columns,
    * `bits` low bits each — a pure builtin-composed expression (shift/
    * mask/or), fully codegen'd. Rows close in Z-value are close in
    * BOTH dimensions, which is what makes two-column clustering work
    * where a lexicographic sort only clusters its leading column.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  /** Z-order clustered layout: range-partition + sort on the Morton
    * code of TWO filter columns, so every file (and row group) covers
    * a narrow rectangle in both dimensions — min/max footer stats then
    * skip on either predicate. `writeSorted` clusters one column at
    * the cost of scattering all others; this is the two-column
    * generalization, the same one-time shuffle at ingest. Callers
    * normalize the columns to non-negative ints spanning ≲ 2^bits
    * (rank or min/max scaling) — Z-values only interleave meaningfully
    * when both inputs use the same bit budget.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int = 16, bits: Int = 16): Unit =
    writeZOrderedBy(df, path, zValue(col(colA), col(colB), bits), numFiles)

  /** Z-order clustering on a caller-built Morton expression — for
    * callers whose filter columns need normalizing first (min/max or
    * rank scaling to the shared bit budget) without persisting the
    * scaled helper columns into the layout. Small row groups for the
    * same reason as [[writeSorted]]: the skip granularity IS the row
    * group.
    */
  def writeZOrderedBy(df: DataFrame, path: String, z: Column,
      numFiles: Int = 16, rowGroupBytes: Long = 1L << 20): Unit =
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .parquet(path)

  /** Incremental partition reload: overwrite ONLY the hive partitions
    * present in `df`, leaving every other partition untouched — the
    * daily-reload pattern that replaces the reference's whole-table
    * delete-then-insert once a table is date-partitioned. The dynamic
    * `partitionOverwriteMode` is a writer option, so the session's mode
    * (and any write planned concurrently under it) is never touched.
    * Rows are pre-shuffled onto their partition columns so each touched
    * partition is written as ONE file (small-file compaction);
    * `maxRecordsPerFile` re-splits oversized partitions so a skewed
    * date cannot produce an unsplittable file.
    */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
      partCols: Seq[String], maxRecordsPerFile: Long = 0L): Unit =
    df.repartition(partCols.map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*)
      .parquet(path)

  /** Small-file compaction: rewrite a parquet table into
    * ceil(bytes/targetFileBytes) files via staging + atomic swap.
    * Streaming sinks and per-partition incremental writes accrete
    * small files; at 100 TB the file count itself becomes the
    * bottleneck (driver listing time, task-per-file scheduling, row
    * groups too small to skip within). Coalesce — not repartition —
    * so compaction is shuffle-free: existing partitions concatenate.
    * Returns (files before, files after).
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    rewrite(spark, path, targetFileBytes)(identity)

  /** [[compact]] with the rows passed through `f` on the way (the
    * dedup index compactions dedupe or re-aggregate here): the result,
    * coalesced to ceil(input bytes / targetFileBytes) files, is
    * written to `path__compact` and swapped in, so a reader of `path`
    * never observes a half-written table. Returns (files before,
    * files after).
    */
  private[graft] def rewrite(spark: SparkSession, path: String,
      targetFileBytes: Long)(f: DataFrame => DataFrame): (Int, Int) = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(target)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val nOut = math.max(1, math.ceil(
      files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
    val staging = new Path(path + "__compact")
    f(Tables.read(spark, path)).coalesce(nOut)
      .write.mode("overwrite").parquet(staging.toString)
    swapIn(fs, staging, target)
    (files.length, nOut)
  }

  /** Replace `target` (if any) with the fully written `staging`. A
    * rename that returns false leaves the rows in `staging` and fails
    * the call, instead of returning with the table gone.
    */
  private def swapIn(fs: FileSystem, staging: Path, target: Path): Unit = {
    if (fs.exists(target)) fs.delete(target, true)
    if (!fs.rename(staging, target))
      throw new java.io.IOException(
        s"could not rename $staging to $target; the rows are in $staging")
  }

  /** Bucketed managed table: co-locates rows by join key at write time
    * so later equi-joins/aggregations on that key need NO shuffle —
    * both sides arrive hash-partitioned from disk. This is the
    * write-side half of the 100 TB join strategy: pay one shuffle at
    * ingest, never again.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int = 16, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(s => w.sortBy(s)).format("parquet").saveAsTable(table)
  }

  /** Upsert: union existing rows with incoming, keep the latest version
    * per key (version desc; version TIES break deterministically on the
    * remaining non-key columns, descending in name order — the key
    * columns are constant within a window partition so they cannot
    * discriminate), write via staging + swap so the read of `path` and
    * the overwrite of `path` never race inside one job.
    */
  def dedupUpsert(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String], versionCol: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    val merged =
      if (fs.exists(target))
        SchemaAlign.unionLineages(Tables.read(spark, path), incoming)
      else incoming
    val tieCols = merged.columns.toSeq
      .filterNot(c => keys.contains(c) || c == versionCol)
      .sorted.map(col(_).desc_nulls_last)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc +: tieCols: _*)
    val dedup = merged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val staging = new Path(path + "__staging")
    dedup.write.mode("overwrite").parquet(staging.toString)
    swapIn(fs, staging, target)
  }

  /** Versioned snapshot writes with time travel (the lakehouse
    * pattern a table format provides, expressed with plain parquet +
    * a version directory scheme): every write lands a NEW immutable
    * `v=N` snapshot — readers of version N-1 are never disturbed
    * (no staging swap needed), `readLatest` resolves the max version
    * at open time, `readVersion` time-travels, and `expireVersions`
    * is the retention pass that keeps the last K snapshots. Version
    * resolution is one directory listing (a table format stores the
    * same fact in a metadata file).
    */
  def writeVersioned(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    val next = listVersions(spark, path).lastOption.getOrElse(-1L) + 1L
    // Stage outside the v= namespace, then one atomic rename publishes
    // the snapshot: readers can never observe a half-written v=N (the
    // _temporary dirs of an in-flight job live only under the staging
    // path, which listVersions ignores). Rename failure = a concurrent
    // writer claimed N first — surface it rather than corrupt.
    val staging = new Path(s"$path/.staging-v=$next")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(staging.toString)
    val target = new Path(s"$path/v=$next")
    require(!fs.exists(target) && fs.rename(staging, target),
      s"versioned publish of v=$next lost a race at $path")
    next
  }

  def listVersions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .sorted
  }

  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    Tables.read(spark, s"$path/v=$version")

  def readLatest(spark: SparkSession, path: String): DataFrame = {
    val vs = listVersions(spark, path)
    require(vs.nonEmpty, s"no versions under $path")
    readVersion(spark, path, vs.last)
  }

  def expireVersions(spark: SparkSession, path: String, keep: Int): Seq[Long] = {
    require(keep >= 1, s"expireVersions(keep=$keep) would delete the live snapshot")
    val vs = listVersions(spark, path)
    val doomed = vs.dropRight(keep)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach(v => fs.delete(new Path(s"$path/v=$v"), true))
    doomed
  }
}
