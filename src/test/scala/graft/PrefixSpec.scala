package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Prefix

/** Two-phase prefix sum: correctness vs the single-partition window
  * formulation, and the no-cache-leak contract (VERDICT r4 item 2 —
  * `.cache()` without unpersist pinned every call's frame in executor
  * storage for the session's lifetime; the helpers now localCheckpoint
  * instead, leaving the CacheManager untouched).
  */
class PrefixSpec extends SparkSpec {
  import spark.implicits._

  test("runningSum is bit-identical to the single-partition window cumsum") {
    val df = (1 to 500).map(i => ((i * 37) % 1000, 1L + i % 7))
      .toDF("k", "v").groupBy("k").agg(sum("v").as("c"))
    val expected = df.withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("k").select("k", "c", "cum").collect()
    val got = Prefix.runningSum(df, col("c"), "cum", Seq(col("k")), numParts = 5)
      .orderBy("k").select("k", "c", "cum").collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("runningSum with partition groups matches per-group window cumsum") {
    val df = (1 to 300).map(i => (s"g${i % 3}", i, 1L + i % 5))
      .toDF("g", "k", "c")
    val expected = df.withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("g")).orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("g", "k").select("g", "k", "cum").collect()
    val got = Prefix.runningSum(df, col("c"), "cum", Seq(col("k")),
        partCols = Seq("g"), numParts = 4)
      .orderBy("g", "k").select("g", "k", "cum").collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("reliable checkpoint dir: same results, files on the reliable store") {
    // spark.graft.reliableCheckpointDir switches every Stabilize site
    // from non-replicated localCheckpoint blocks to RELIABLE
    // checkpoint files — the executor-loss-safe mode for clusters
    // with dynamic allocation / spot executors.
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable").toString
    val df = (1 to 400).map(i => ((i * 13) % 97, 1L + i % 5))
      .toDF("k", "v").groupBy("k").agg(sum("v").as("c"))
    val expected = Prefix.runningSum(df, col("c"), "cum", Seq(col("k")), numParts = 4)
      .orderBy("k").collect()
    spark.conf.set(graft.operators.Stabilize.ConfKey, dir)
    try {
      val got = Prefix.runningSum(df, col("c"), "cum", Seq(col("k")), numParts = 4)
        .orderBy("k").collect()
      assert(got.toSeq == expected.toSeq)
      def countFiles(p: java.io.File): Int =
        if (p.isDirectory) p.listFiles().map(countFiles).sum else 1
      assert(countFiles(new java.io.File(dir)) > 0,
        "reliable mode must write checkpoint files under the configured dir")
    } finally spark.conf.unset(graft.operators.Stabilize.ConfKey)
  }

  test("prefix-sum family leaves no CacheManager entry behind") {
    spark.sharedState.cacheManager.clearCache()
    // Prefix.runningSum (q_psi, q_gini, q_histogram_equi, ...)
    val df = (1 to 200).map(i => (i, 1L)).toDF("k", "c")
    Prefix.runningSum(df, col("c"), "cum", Seq(col("k")), numParts = 4)
      .collect()
    // text_batch_pack / mm_shard_pack, both on runningSum
    graft.functions.TextFunctions.batchPack(spark, sf).collect()
    graft.multimodal.Multimodal.shardPack(spark, sf).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "two-phase prefix helpers must not leak cached frames")
  }
}
