package graft

import org.apache.spark.sql.functions._

class PlansSpec extends SparkSpec {

  /** `lineitem ⋈ nation` planned with Spark's broadcast threshold at
    * -1, returning the physical plan's string.
    */
  private def liNationPlanNoThreshold(
      hint: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val li = graft.sources.Tables.load(spark, sf, "lineitem")
      val n = hint(graft.sources.Tables.load(spark, sf, "nation"))
      li.join(n, li("l_suppkey") % 25 === n("n_nationkey"))
        .groupBy(col("n_name")).count()
        .queryExecution.executedPlan.toString
    } finally spark.conf.set(key, prev)
  }

  test("Spark's threshold at -1 turns off every size-based broadcast") {
    // nation is a few KB; with the threshold off nothing broadcasts it by size
    val plan = liNationPlanNoThreshold(identity)
    assert(!plan.contains("BroadcastHashJoin"),
      s"expected a shuffle join with the threshold off, got:\n$plan")
  }

  test("an explicit broadcast() hint still broadcasts with the threshold off") {
    val plan = liNationPlanNoThreshold(broadcast(_))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the hinted side to broadcast, got:\n$plan")
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // One pathological key holding half the rows: the classic layout
      // that strands a single reducer without AQE's runtime split.
      val left = spark.range(200000)
        .select(when($"id" % 2 === 0, 0L).otherwise($"id").as("k"),
          $"id".as("v"))
      val right = spark.range(0, 2000).select($"id".as("k"), ($"id" * 2).as("w"))
      val joined = left.join(right, "k").groupBy($"k" % 10).count()
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed join, got:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("IntervalJoinExec matches the composed-builtins range join") {
    val native = graft.operators.Temporal.eventsByRangeNative(spark, sf)
    // SparkPlan.nodeName strips the "Exec" suffix, so the node prints
    // as "IntervalJoin" in the physical tree.
    assert(native.queryExecution.executedPlan.toString
      .contains("IntervalJoin "),
      "q_range_join_native should plan through IntervalJoinExec")
    val builtin = graft.operators.Temporal.eventsByRange(spark, sf)
    assert(native.collect().toSeq == builtin.collect().toSeq)
  }

  test("IntervalJoinExec drops null and out-of-range timestamps") {
    import spark.implicits._
    val left = Seq(
      (1, "2020-01-05 00:00:00"), // in interval A
      (2, "2020-02-15 00:00:00"), // in the gap between intervals
      (3, "2020-03-01 00:00:00"), // == start of B (inclusive)
      (4, "2020-04-01 00:00:00"), // == end of B (exclusive)
      (5, null.asInstanceOf[String]), // null ts
      (6, "2019-12-31 23:59:59")  // before all intervals
    ).toDF("id", "s").select(col("id"), to_timestamp_ntz(col("s")).as("t"))
    val iv = Seq(
      ("A", "2020-01-01 00:00:00", "2020-02-01 00:00:00"),
      ("B", "2020-03-01 00:00:00", "2020-04-01 00:00:00")
    ).toDF("tag", "s0", "s1").select(col("tag"),
      to_timestamp_ntz(col("s0")).as("start_ts"),
      to_timestamp_ntz(col("s1")).as("end_ts"))
    val out = graft.plans.IntervalJoinOps
      .intervalJoinNative(spark, left, iv, "t", "start_ts", "end_ts")
      .select(col("id"), col("tag")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "A"), (3, "B")))
  }

  test("graft session defaults: AQE on, UTC, shuffle partitions sized") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == (32L << 20).toString)
  }

  test("broadcast as-of join matches the merge exec and never shuffles the fact side") {
    val merge = graft.operators.Temporal.purchaseAsOfClickNative(spark, sf)
      .collect().map(_.toSeq)
    val bcast = graft.operators.Temporal.purchaseAsOfClickBroadcast(spark, sf)
    assert(bcast.collect().map(_.toSeq).toSeq == merge.toSeq)
    // AQE wraps stages whose children lists are empty — walk through
    // AdaptiveSparkPlanExec/QueryStageExec explicitly
    def deep(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(deep)
    }
    val plan = bcast.queryExecution.executedPlan
    val execs = deep(plan).collect {
      case b: graft.plans.BroadcastAsOfJoinExec => b }
    assert(execs.nonEmpty, plan.toString.take(1500))
    // zero exchanges anywhere under the fact (left) subtree
    val leftShuffles = deep(execs.head.left).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(leftShuffles.isEmpty, execs.head.left.toString)
    // while the merge exec's fact side IS hash-distributed
    val mergePlan = graft.operators.Temporal.purchaseAsOfClickNative(spark, sf)
      .queryExecution.executedPlan
    assert(deep(mergePlan).collect {
      case m: graft.plans.AsOfJoinExec => m }.nonEmpty, mergePlan.toString.take(1500))
  }
}
