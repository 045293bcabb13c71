package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Dev-only profiling main (round 16): where does a query's wall-clock
  * go? Runs each named query once cold (plan + codegen warm-up), then
  * once measured with a listener attached, and prints per-JOB wall
  * time plus per-stage task-time / shuffle bytes. This answers the
  * guide-§1 question the bench total cannot: is a 2 s row 2 s of
  * compute, or 14 sequential tiny jobs of scheduling + materialization
  * overhead (checkpoints, range-partition sampling, broadcast builds)?
  *
  * Usage: runMain graft.Profile <query[,query...]> [sfDir]
  * Never invoked by the driver; timing methodology of Bench unchanged.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q_psi"))
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up as Bench
    SparkEntry.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()

    final case class JobRec(id: Int, var desc: String, t0: Long,
      var t1: Long = 0L, stages: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer())
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageInfo = mutable.Map.empty[Int, (String, Long, Long, Long, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val r = JobRec(e.jobId, "", System.nanoTime())
        r.stages ++= e.stageIds
        jobs(e.jobId) = r
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = System.nanoTime())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          val m = si.taskMetrics
          stageInfo(si.stageId) = (si.name.takeWhile(_ != '\n'),
            if (si.submissionTime.isDefined && si.completionTime.isDefined)
              si.completionTime.get - si.submissionTime.get else -1L,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, si.numTasks)
        }
    }

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // cold pass: plan compilation + codegen (Bench excludes this via min)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      jobs.clear(); stageInfo.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain (no public waitUntilEmpty)
      spark.sparkContext.removeSparkListener(listener)
      println(f"%nPROFILE $name wall=$wall%.3f s jobs=${jobs.size}")
      var covered = 0.0
      jobs.values.foreach { j =>
        val dur = if (j.t1 > 0) (j.t1 - j.t0) / 1e9 else -1.0
        covered += math.max(dur, 0)
        val stages = j.stages.flatMap(stageInfo.get)
        val sdesc = stages.map { case (n, ms, sr, sw, nt) =>
          f"$n ${ms}ms t=$nt sr=${sr / 1024}K sw=${sw / 1024}K"
        }.mkString(" | ")
        println(f"  job ${j.id}%3d $dur%7.3f s  [$sdesc]")
      }
      println(f"  job-covered=$covered%.3f s (gap=${wall - covered}%.3f s = driver/plan time)")
    }
    spark.stop()
  }
}
