package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Evidence that the scale machinery SURVEY.md §5 relies on actually
  * engages on this engine's plans — each test drives a query shaped
  * like the 100 TB case (scaled down) and asserts the runtime feature
  * fired, not just that the conf is set.
  */
class ScaleSpec extends SparkSpec {

  /** The physical plan after AQE finalization (run the query first). */
  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // Make the tiny test data look skewed to the planner: any
      // partition 1.5x over the 16KB floor and over the median splits.
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 200k rows on ONE key vs a unique-keyed right side: the classic
      // hot-key fact join.
      val skewed = spark.range(200000)
        .select((col("id") % 5000 * 0 + 1).as("k"), col("id").as("payload"))
      val uniform = spark.range(5000)
        .select((col("id") + 1).as("k"), col("id").as("r"))
      val joined = skewed.join(uniform, "k")
      // collect() drives THIS dataset's QueryExecution (a write action
      // would execute a copy and leave `joined`'s adaptive plan untouched)
      joined.collect()
      val plan = finalPlan(joined).toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-split SortMergeJoin, got:\n$plan")
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions") {
    import spark.implicits._
    val dir = s"/tmp/graft-scale-dpp-${suiteName.hashCode.abs}"
    val e = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
    graft.sources.Sink.overwrite(e, dir, partitionBy = Seq("day"))
    val fact = spark.read.parquet(dir)
    // A dim with a SELECTIVE predicate on it (DPP only fires for
    // filterable build sides) naming a strict subset of the days. The
    // dim must be a real relation — a filter over a LocalRelation is
    // constant-folded away and DPP sees no predicate.
    import spark.implicits._
    val allDays = fact.select(col("day")).distinct()
      .orderBy(col("day")).collect().map(_.getDate(0).toString)
    allDays.zipWithIndex
      .map { case (d, i) => (d, if (i < 2) "keep" else "drop") }
      .toSeq.toDF("d", "tag")
      .select(to_date(col("d")).as("day"), col("tag"))
      .write.mode("overwrite").parquet(s"$dir-dim")
    val dim = spark.read.parquet(s"$dir-dim").filter(col("tag") === "keep")
    val joined = fact.join(dim, "day").groupBy(col("day")).count()
    joined.collect()
    val plan = finalPlan(joined).toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the scan, got:\n$plan")
  }

  test("runtime bloom filter prunes the shuffle of the big side") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // The application-side floor defaults to 10GB; drop it so the
      // sf-scale fact qualifies and the mechanism is observable.
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val li = graft.sources.Tables.load(spark, sf, "lineitem")
      val o = graft.sources.Tables.load(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") &&
        optimized.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter on the fact side, got:\n$optimized")
    }
  }

  test("writeSorted layout lets pushed filters skip row groups") {
    val li = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val total = li.count()
    val base = s"/tmp/graft-scale-sorted-${suiteName.hashCode.abs}"
    // Same rows, same row-group cap — only the LAYOUT differs.
    graft.sources.Sink.writeSorted(li, s"$base/sorted", Seq("l_orderkey"),
      numFiles = 4, rowGroupBytes = 64 * 1024)
    li.repartition(4).write.mode("overwrite")
      .option("parquet.block.size", 64 * 1024).parquet(s"$base/shuffled")

    // Range predicate: dictionary filtering can't help (it only
    // handles equality), so skipping is purely footer min/max stats —
    // the layout effect under test.
    def rowsScanned(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("l_orderkey").between(100L, 110L))
      df.collect()
      val scans = finalPlan(df).collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, "no parquet scan in plan")
      assert(scans.forall(_.metadata("PushedFilters").contains("l_orderkey")),
        "filter was not pushed to the parquet reader")
      scans.map(_.metrics("numOutputRows").value).sum
    }

    val sortedRows = rowsScanned(s"$base/sorted")
    val shuffledRows = rowsScanned(s"$base/shuffled")
    // Sorted layout: the key range lives in ~one narrow row group;
    // scattered layout: every row group's min/max straddles it, so
    // min/max stats skip nothing.
    assert(sortedRows * 4 <= shuffledRows && sortedRows * 8 <= total,
      s"expected row-group skipping: sorted scanned $sortedRows rows, " +
        s"shuffled scanned $shuffledRows of $total")
  }

  test("parquet timestamp read types: conf governs metadata-free files, " +
      "footer schema metadata pins engine-written ones") {
    import org.apache.spark.sql.types._
    // The round-12 contract behind the headline-filter pushdown fix
    // (GraftSession inferTimestampNTZ=false) and its measured trap
    // (docs/SCALING.md round 12): a naive parquet timestamp with NO
    // Spark schema metadata (external writers — the testdata corpus)
    // reads as session-TZ TIMESTAMP, whose filters row-group-skip;
    // but an ENGINE-written file embeds the Spark schema in the
    // footer, and inference prefers that metadata over the conf — an
    // NTZ-typed frame written before the flip stays NTZ (and inert)
    // forever. If either behavior changes in a future Spark, the
    // corpus-versioning story (Soak v3 / `Soak layout` v4) needs a
    // re-decision — fail here, loudly.
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
      == "false")
    // metadata-free naive micros (the testdata writers' shape) → LTZ
    val external = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "lineitem")
    assert(external.schema("l_shipdate").dataType == TimestampType,
      "naive parquet timestamp without Spark metadata must read as " +
        "session-TZ TIMESTAMP under inferTimestampNTZ=false")
    val base = s"/tmp/graft-scale-tstype-${suiteName.hashCode.abs}"
    // engine-written NTZ column → footer metadata pins NTZ on re-read
    external.limit(10)
      .select(col("l_shipdate").cast(TimestampNTZType).as("ts_ntz"),
        col("l_shipdate").as("ts_ltz"))
      .write.mode("overwrite").parquet(base)
    val back = spark.read.parquet(base)
    assert(back.schema("ts_ntz").dataType == TimestampNTZType,
      "footer Spark-schema metadata no longer pins the written type — " +
        "re-decide the corpus-versioning story")
    assert(back.schema("ts_ltz").dataType == TimestampType)
    // the engine's footer read keeps the same pin
    val viaFooter = graft.sources.Tables.read(spark, base)
    assert(viaFooter.schema("ts_ntz").dataType == TimestampNTZType)
    assert(viaFooter.schema("ts_ltz").dataType == TimestampType)
  }
}
