package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local JVM session, graft
  * extensions installed, small shuffle width for test speed.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** `body` with optimizer `rule` excluded through Spark's own
    * `spark.sql.optimizer.excludedRules`.
    */
  def withoutRule[A](rule: org.apache.spark.sql.catalyst.rules.Rule[_])(body: => A): A = {
    val key = org.apache.spark.sql.internal.SQLConf.OPTIMIZER_EXCLUDED_RULES.key
    spark.conf.set(key, rule.ruleName)
    try body finally spark.conf.unset(key)
  }

  /** `body`'s value and the number of Spark jobs it started, counted
    * by a job group of its own.
    */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val a = body
      org.apache.spark.graftspec.ListenerBus.drain(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
