package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKRewriteSpec extends SparkSpec {

  private def topn(): DataFrame = {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    li.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("l_returnflag"), col("rk"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
  }

  private def withRule[T](enabled: Boolean)(f: => T): T =
    if (enabled) f else withoutRule(graft.plans.TopKRewrite)(f)

  test("rank-filter window is rewritten to the graft_topk aggregate") {
    val opt = withRule(enabled = true)(topn().queryExecution.optimizedPlan.toString)
    assert(opt.contains("graft_topk"), opt.take(2000))
    assert(!opt.contains("row_number"), opt.take(2000))
    val off = withRule(enabled = false)(topn().queryExecution.optimizedPlan.toString)
    assert(!off.contains("graft_topk"))
  }

  test("rewritten plan returns exactly the window plan's rows") {
    val a = withRule(enabled = true)(topn().collect().map(_.toSeq).toSet)
    val b = withRule(enabled = false)(topn().collect().map(_.toSeq).toSet)
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("global (unpartitioned) top-k also rewrites and matches") {
    def q: DataFrame = {
      val o = graft.sources.Tables.load(spark, sf, "orders")
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 7)
        .select(col("rk"), col("o_orderkey"), col("o_totalprice"))
    }
    val opt = withRule(enabled = true)(q.queryExecution.optimizedPlan.toString)
    assert(opt.contains("graft_topk"))
    val a = withRule(enabled = true)(q.collect().map(_.toSeq).toSet)
    val b = withRule(enabled = false)(q.collect().map(_.toSeq).toSet)
    assert(a == b && a.size == 7)
  }

  test("rule leaves non-eligible windows alone") {
    val e = graft.sources.Tables.load(spark, sf, "events")
    // rank() is not row_number → no rewrite
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc)
    val r = e.withColumn("rk", rank().over(w)).filter(col("rk") <= 2)
    assert(!r.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    // ascending timestamp order key (not integral) → no rewrite
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts").asc)
    val r2 = e.withColumn("rk", row_number().over(w2)).filter(col("rk") <= 2)
    assert(!r2.queryExecution.optimizedPlan.toString.contains("graft_topk"))
  }
}
