package graft

import org.apache.spark.sql.functions._

import graft.plans.PlanLint

class PlanLintSpec extends SparkSpec {

  private val autoKey = "spark.sql.autoBroadcastJoinThreshold"

  private def rules(df: org.apache.spark.sql.Dataset[_]): Set[String] =
    PlanLint.lint(df).map(_.rule).toSet

  test("non-broadcast cartesian is an error") {
    val prev = spark.conf.get(autoKey)
    try {
      // disable size-based broadcast so the planner has to pick
      // CartesianProductExec
      spark.conf.set(autoKey, "-1")
      val a = spark.range(100).toDF("x")
      val b = spark.range(100).toDF("y")
      val cross = a.crossJoin(b)
      val fs = PlanLint.lint(cross)
      assert(fs.exists(f => f.rule == "cartesian-product" && f.severity == "error"),
        fs.mkString("\n"))
      val ex = intercept[AssertionError] { PlanLint.assertClean(cross) }
      assert(ex.getMessage.contains("cartesian-product"))
    } finally spark.conf.set(autoKey, prev)
  }

  test("broadcast nested-loop join is a warn, not an error") {
    // the engine's own bounded-spine crossJoins plan as BNLJ: they must
    // pass assertClean (default failOn=error) but still surface a warn
    val one = spark.range(5).agg(count(lit(1)).as("n"))
    val df = spark.range(100).toDF("x").crossJoin(broadcast(one))
    val fs = PlanLint.lint(df)
    assert(fs.exists(f => f.rule == "nested-loop-join" && f.severity == "warn"),
      fs.mkString("\n"))
    PlanLint.assertClean(df) // no error-level findings
  }

  test("one-partition shuffle is flagged") {
    val df = spark.range(1000).toDF("x").repartition(1)
    assert(rules(df).contains("single-partition-exchange"),
      PlanLint.report(df))
  }

  test("Scala UDF in the plan is flagged") {
    val inc = udf((i: Long) => i + 1)
    val df = spark.range(10).toDF("x").select(inc(col("x")).as("y"))
    assert(rules(df).contains("udf-in-plan"), PlanLint.report(df))
    // the same computation through functions._ is clean
    val native = spark.range(10).toDF("x").select((col("x") + 1).as("y"))
    assert(!rules(native).contains("udf-in-plan"), PlanLint.report(native))
  }

  test("filter the source could not push down is flagged; a pushed one is not") {
    val pushKey = "spark.sql.parquet.filterPushdown"
    val prev = spark.conf.get(pushKey)
    try {
      spark.conf.set(pushKey, "false")
      val unpushed = graft.sources.Tables.load(spark, sf, "lineitem")
        .filter(col("l_quantity") < 5).select("l_orderkey")
      assert(rules(unpushed).contains("unpushed-scan-filter"),
        PlanLint.report(unpushed))

      spark.conf.set(pushKey, "true")
      val pushed = graft.sources.Tables.load(spark, sf, "lineitem")
        .filter(col("l_quantity") < 5).select("l_orderkey")
      assert(!rules(pushed).contains("unpushed-scan-filter"),
        PlanLint.report(pushed))
    } finally spark.conf.set(pushKey, prev)
  }

  test("forced shuffle join with a broadcastable side is surfaced") {
    // a merge hint (or a full-outer join type) keeps a small dim out of
    // broadcast at plan time — the lint names the lost broadcast
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val n = graft.sources.Tables.load(spark, sf, "nation").hint("merge")
    val df = li.join(n, li("l_suppkey") % 25 === n("n_nationkey"))
      .groupBy("n_name").count()
    val fs = PlanLint.lint(df)
    assert(fs.exists(_.rule == "non-broadcast-small-side"), PlanLint.report(df))
    // AQE is on in the graft session -> advisory severity, not a warn
    assert(fs.filter(_.rule == "non-broadcast-small-side")
      .forall(_.severity == "info"), fs.mkString("\n"))
  }

  test("timestamp_ntz pushdown is advertised but inert; date/long skip row groups — and the lint names it") {
    // The mechanism behind the NTZ leg of `unpushed-scan-filter`:
    // ParquetFilters accepts java.sql.Timestamp / java.time.Instant
    // values, an NTZ literal arrives as LocalDateTime, so the reader
    // never receives a predicate — while the SAME out-of-range filter
    // on a date or long column of the SAME files skips every row
    // group. If a future Spark fixes NTZ pushdown, this spec fails and
    // the lint rule should be retired with it.
    val p = java.nio.file.Files.createTempDirectory("lint_ntz").toString
    spark.range(50000).toDF("id")
      .withColumn("ts", to_timestamp_ntz(
        concat(lit("1997-"), lpad((col("id") % 12 + 1).cast("string"), 2, "0"),
          lit("-15 12:00:00"))))
      .withColumn("day", to_date(col("ts")))
      .withColumn("ts_ltz", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(p)

    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      val agg = df.select(count(lit(1)).as("c"))
      agg.queryExecution.executedPlan.executeCollect(): Unit
      PlanLint.walk(agg.queryExecution.executedPlan).collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.get
    }
    val all = spark.read.parquet(p)
    // out-of-domain predicates: with working pushdown every row group's
    // min/max excludes them and the scan outputs ZERO rows
    assert(scanRows(all.filter(col("id") < -1L)) == 0L)
    assert(scanRows(all.filter(
      col("day") < lit(java.sql.Date.valueOf("1990-01-01")))) == 0L)
    // the session-TZ TIMESTAMP twin also skips (its literal is an
    // Instant, which ParquetFilters accepts)
    assert(scanRows(all.filter(col("ts_ltz") < lit("1990-01-01"))) == 0L)
    // the NTZ filter is advertised as pushed but skips nothing
    val ntz = all.filter(col("ts") < lit("1990-01-01"))
    assert(scanRows(ntz) == 50000L)
    val fs = PlanLint.lint(all.filter(col("ts") < lit("1990-01-01"))
      .select(count(lit(1)).as("c")))
    assert(fs.exists(f => f.rule == "unpushed-scan-filter" &&
      f.detail.contains("TIMESTAMP_NTZ")), fs.mkString("\n"))
    // the date filter on the same files is clean
    val okFs = PlanLint.lint(all.filter(
      col("day") < lit(java.sql.Date.valueOf("1990-01-01")))
      .select(count(lit(1)).as("c")))
    assert(!okFs.exists(_.rule == "unpushed-scan-filter"), okFs.mkString("\n"))
  }

  test("partitioned scan without a partition filter is surfaced; a pruned one is not") {
    val p = java.nio.file.Files.createTempDirectory("lint_part").toString
    spark.range(1000).toDF("id")
      .withColumn("part", (col("id") % 5).cast("string"))
      .write.partitionBy("part").mode("overwrite").parquet(p)
    val unpruned = spark.read.parquet(p).groupBy("part").count()
    assert(PlanLint.lint(unpruned)
      .exists(_.rule == "unpruned-partitioned-scan"), PlanLint.report(unpruned))
    val pruned = spark.read.parquet(p).filter(col("part") === "3")
      .groupBy("part").count()
    assert(!PlanLint.lint(pruned)
      .exists(_.rule == "unpruned-partitioned-scan"), PlanLint.report(pruned))
  }

  test("bucketed SMJ with an in-task re-sort is flagged; the ordered-scan escape is clean") {
    // the r10 layout-soak trap: joining two bucketed tables avoids the
    // shuffle but re-sorts every bucket inside the task, because bucket
    // scans don't report sort order by default
    val dir = java.nio.file.Files.createTempDirectory("lint_bucket").toString
    val df = spark.range(20000).toDF("id")
      .withColumn("v", (col("id") * 7 % 100).cast("double"))
    Seq("a", "b").foreach { t =>
      // one file per bucket: the scan reports bucket sort order (under
      // the legacy flag) only when no bucket needs a file merge
      df.repartition(1).write.bucketBy(4, "id").sortBy("id").mode("overwrite")
        .option("path", s"$dir/$t").saveAsTable(s"lint_bucket_$t")
    }
    val orderKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    try {
      val a = spark.table("lint_bucket_a")
      val b = spark.table("lint_bucket_b")
      def joined = a.hint("merge")
        .join(b.hint("merge"), Seq("id")).select(a("v"))

      val fs = PlanLint.lint(joined)
      assert(fs.exists(f => f.rule == "bucketed-smj-resort" &&
        f.severity == "warn"), PlanLint.report(joined))

      // the measured 19x escape: the buckets WERE written sorted, the
      // legacy flag lets the scan say so, the in-task Sort disappears
      spark.conf.set(orderKey, "true")
      assert(!PlanLint.lint(joined).exists(_.rule == "bucketed-smj-resort"),
        PlanLint.report(joined))
      spark.conf.unset(orderKey)

      // unbucketed SMJ (shuffle + sort) is the normal plan — not flagged
      val plain = spark.read.parquet(s"$dir/a").hint("merge")
        .join(spark.read.parquet(s"$dir/b").hint("merge"), Seq("id"))
      assert(!PlanLint.lint(plain).exists(_.rule == "bucketed-smj-resort"),
        PlanLint.report(plain))
    } finally {
      spark.conf.unset(orderKey)
      Seq("a", "b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS lint_bucket_$t"))
    }
  }

  test("headline queries carry no error-level findings") {
    Seq("q1_pricing_summary", "q_star_join_agg", "dedup_minhash",
      "text_tfidf", "sim_bruteforce_topk", "q_fusion_etl",
      "q_salted_join_agg").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      PlanLint.assertClean(df)
    }
  }

  test("clean plan reports clean") {
    val df = spark.range(1000).toDF("x")
      .groupBy((col("x") % 10).as("k")).agg(sum("x").as("s"))
    assert(PlanLint.report(df) == "plan-lint: clean")
  }
}
