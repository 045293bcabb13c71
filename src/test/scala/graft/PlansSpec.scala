package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.LocalRelationSort

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

  private def sorts(p: LogicalPlan): Int = p.collect { case s: Sort => s }.size

  test("a sort of driver rows runs on the driver, in the order a file sort gives") {
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("k", DoubleType), StructField("s", StringType)))
    // ties (2.5, NaN, null twice each; -0.0 and 0.0 four times), ±Inf
    val ks = Seq[java.lang.Double](2.5, null, Double.NaN, -0.0, 0.0, -1.0,
      2.5, Double.NegativeInfinity, 0.0, -0.0, null, Double.PositiveInfinity,
      Double.NaN, 1.0)
    val local = spark.createDataFrame(ks.zipWithIndex.map { case (k, i) =>
      Row(i, k, if (i % 4 == 3) null else s"s${i % 3}")
    }.asJava, schema)
    val dir = Scratch.dir("plans_local_sort")
    local.coalesce(1).write.mode("overwrite").parquet(dir)
    val file = spark.read.parquet(dir)
    val k = col("k")
    val s = col("s")
    val orders: Seq[(Seq[String], Seq[Column])] = Seq(
      Seq("k") -> Seq(k.asc), Seq("k") -> Seq(k.desc),
      Seq("k") -> Seq(k.asc_nulls_last), Seq("k") -> Seq(k.desc_nulls_first),
      Seq("s", "k") -> Seq(s.asc, k.desc),
      Seq("s", "k") -> Seq(s.desc_nulls_last, k.asc_nulls_last))
    orders.foreach { case (keys, o) =>
      val sorted = local.orderBy(o: _*)
      assert(sorts(sorted.queryExecution.optimizedPlan) == 0,
        sorted.queryExecution.optimizedPlan)
      val (got, jobs) = jobsOf(sorted.collect().toSeq)
      assert(jobs == 0, s"order $o: collect of driver rows started $jobs jobs")
      // Spark's own sort leaves the order of tied rows open (its radix
      // sort reverses them on some keys), so the file sort is compared
      // key by key (Row equality: NaN equals NaN, -0.0 equals 0.0) and
      // row for row as a multiset; toString keeps the sign of a zero
      val want = file.orderBy(o: _*).collect().toSeq
      def key(r: Row): Row = Row.fromSeq(keys.map(r.getAs[Any]))
      assert(got.map(key) == want.map(key), s"order $o")
      assert(got.map(_.toString).sorted == want.map(_.toString).sorted, s"order $o")
      // stable: each run of tied keys keeps its input (id) order
      got.zip(got.drop(1)).foreach { case (a, b) =>
        if (key(a) == key(b)) assert(a.getInt(0) < b.getInt(0), s"order $o: $a before $b")
      }
    }
  }

  test("partition sorts, random orders and streaming relations keep their Sort") {
    val df = spark.createDataFrame((0 until 5).map(i => Row(i.toLong)).asJava,
      StructType(Seq(StructField("id", LongType))))
    assert(sorts(df.sortWithinPartitions(col("id")).queryExecution.optimizedPlan) == 1)
    // The analyzer pulls a random key out of a Sort into a projection
    // (which Spark's ConvertToLocalRelation then evaluates on the
    // driver), so a random or streaming key reaches the rule only in a
    // plan built by hand.
    val rel = df.queryExecution.optimizedPlan.asInstanceOf[LocalRelation]
    val byRand = Sort(Seq(SortOrder(Rand(7L), Ascending)), global = true, rel)
    assert(LocalRelationSort(byRand) == byRand)
    val byId = SortOrder(rel.output.head, Ascending)
    val streaming = Sort(Seq(byId), global = true, rel.copy(isStreaming = true))
    assert(LocalRelationSort(streaming) == streaming)
    assert(sorts(LocalRelationSort(Sort(Seq(byId), global = true, rel))) == 0)
  }
}
