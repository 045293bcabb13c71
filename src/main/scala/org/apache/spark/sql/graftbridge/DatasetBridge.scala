package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** LogicalPlan -> DataFrame bridge (Dataset.ofRows is private[sql]);
  * needed to hand custom logical operators (graft.plans.AsOfJoin) back
  * to the public Dataset API, and to move a plan between sessions.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session for plans that need conf of their own: a clone of
    * `spark` holding `spark`'s runtime conf as it stands at this call
    * (graft's reliable checkpoint dir among it) plus `conf`, which the
    * clone alone carries. `cloneSession` is private[sql], and
    * `newSession` would drop the runtime conf.
    *
    * The clone is kept for the next call with the same session and
    * `conf`: executors load each session's generated classes in a class
    * loader of their own, so a clone per call would compile every class
    * of the plan again, and churn the executors' cache of those loaders.
    * A clone holds on to its parent, so at most 8 are kept, the least
    * recently used dropped first.
    */
  def sessionWith(spark: SparkSession, conf: (String, String)*): SparkSession =
    clones.synchronized {
      val parent = spark.asInstanceOf[classic.SparkSession]
      val clone = clones.computeIfAbsent((parent, conf.toMap), _ => parent.cloneSession())
      val want = parent.sessionState.conf.getAllConfs ++ conf
      val own = clone.sessionState.conf
      (own.getAllConfs.keySet -- want.keySet).foreach(own.unsetConf)
      want.foreach { case (k, v) => if (own.getConfString(k, null) != v) own.setConfString(k, v) }
      clone
    }

  private val clones = new java.util.LinkedHashMap[
      (classic.SparkSession, Map[String, String]), classic.SparkSession](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (classic.SparkSession, Map[String, String]), classic.SparkSession]): Boolean =
      size > 8
  }
}
