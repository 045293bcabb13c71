package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pipeline}
import graft.functions.TextFunctions

/** Fast invariants over the composed LLM-corpus pipeline — the hash
  * contract itself lives in the DuckDB oracle (`pipe_llm_corpus`);
  * these pin the properties a reader reasons with: stage containment,
  * eval exclusion, dedup canonicality, and the packing replay.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val out = Pipeline.llmCorpus(spark, sf).cache()

  test("pipeline ships a non-empty, duplicate-free corpus") {
    val ids = out.select("doc_id").as[Long].collect()
    assert(ids.nonEmpty)
    assert(ids.distinct.length == ids.length)
  }

  test("survivors passed the Gopher filter and exclude the eval slice") {
    val gopherKeep = TextFunctions.gopherRules(spark, sf)
      .filter(col("keep") === 1L).select("doc_id").as[Long].collect().toSet
    val ids = out.select("doc_id").as[Long].collect()
    assert(ids.forall(gopherKeep.contains))
    assert(ids.forall(_ % 97 != 0))
  }

  test("survivors are exact-dedup canonical within the gopher slice") {
    // stage-2 contract: every shipped doc is the min-doc_id owner of
    // its normalized-text fingerprint AMONG gopher survivors
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val gopherKeep = TextFunctions.gopherRules(spark, sf)
      .filter(col("keep") === 1L).select("doc_id")
    val s1 = docs.join(gopherKeep, Seq("doc_id"), "left_semi")
    val keep = Dedup.exactOf(s1).select(col("keep_id")).as[Long].collect().toSet
    val ids = out.select("doc_id").as[Long].collect()
    assert(ids.forall(keep.contains))
  }

  test("attrition report: monotone, 7 stages, final row equals the shipped corpus") {
    val rep = Pipeline.llmReport(spark, sf)
      .select("stage_no", "stage", "n_docs", "n_tokens")
      .as[(Long, String, Long, Long)].collect()
    assert(rep.map(_._1).toSeq == (0L to 6L))
    // docs and tokens never grow through the pipeline (scrub shrinks
    // tokens without dropping docs; filters drop docs)
    assert(rep.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
    assert(rep.map(_._4).sliding(2).forall(p => p(0) >= p(1)))
    // the mixture_sample row IS the shipped corpus
    val shipped = out.agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L)))
      .as[(Long, Long)].collect()(0)
    assert((rep.last._3, rep.last._4) == shipped)
  }

  test("batch packing replays as the doc_id-ordered running-sum formula") {
    val rows = out.select("doc_id", "n_tok", "batch_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    rows.foreach { case (_, nTok, batchId) =>
      assert(batchId == cum / 512L, s"cum=$cum n_tok=$nTok got=$batchId")
      cum += nTok
    }
    // monotone batch ids, starting at 0 when anything shipped
    assert(rows.isEmpty || rows.head._3 == 0L)
    assert(rows.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("decontamination route-equivalence: the forced shuffle route " +
    "(evalBroadcastMax=0) ships the identical corpus") {
    // evalBroadcastMax=0 forces the over-threshold branch — the exact
    // plan a corpus too large to broadcast its eval grams would get —
    // and must be row-identical to the broadcast route the gate runs.
    val forced = Pipeline.llmCorpus(spark, sf, evalBroadcastMax = 0L)
      .collect().toSeq
    assert(forced == out.collect().toSeq)
  }

  test("materialized-stage report is row-identical to the recompute " +
    "report, and the landed frames replay each stage exactly") {
    val rec = Pipeline.llmReport(spark, sf).collect().toSeq
    val stages = Pipeline.materializeStageFrames(spark, sf)
    val mat = Pipeline.llmReportFrom(spark, sf, stages).collect().toSeq
    assert(mat == rec)
    // the landed final frame IS the shipped survivor set (s6 = the
    // corpus before packing)
    val s6Ids = spark.read.parquet(s"$stages/s6.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(s6Ids == out.select("doc_id").as[Long].collect().toSet)
  }

  test("every job of a materialized call runs in the caller's job " +
    "group, landings and eval prefetch included") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.time, e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("g1", "first call")
      Pipeline.materializeStageFrames(spark, sf)
      sc.setJobGroup("g2", "second call")
      val t2 = System.currentTimeMillis()
      Pipeline.materializeStageFrames(spark, sf)
      org.apache.spark.graftspec.ListenerBus.drain(sc)
      val second = jobs.toArray(Array.empty[(Long, String, String)])
        .filter(_._1 >= t2)
      assert(second.nonEmpty)
      assert(second.forall(_._2 == "g2"),
        second.filter(_._2 != "g2").mkString("jobs outside g2: ", ", ", ""))
      val labels = second.flatMap(j => Option(j._3)).toSet
      assert(labels.exists(_.startsWith("pipe_stages: land")) &&
        labels.contains("pipe s5: eval grams (prefetch)"), labels)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a materialized call that fails at stage 4 rethrows its " +
    "AnalysisException, leaves no active job and no landed stage") {
    val dir = Scratch.dir("pipeline_spec_nosource")
    graft.sources.Tables.load(spark, sf, "documents").drop("source")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.materializeStageFrames(spark, dir)
    }
    assert(e.getMessage.contains("source"), e.getMessage)
    val sc = spark.sparkContext
    org.apache.spark.graftspec.ListenerBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    val root = java.nio.file.Paths.get(dir).getParent
    val landed = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.toString).filter(_.matches(".*/pipe_stages[^/]*/s\\d\\.parquet"))
    assert(landed.isEmpty, landed)
  }
}
