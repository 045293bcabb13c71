package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.Tables

/** Composed end-to-end LLM-corpus pipeline (`pipe_llm_corpus`) — the
  * training-data twin of `q_fusion_etl` (which plays this role for the
  * reference's fusion flow, etl_ecollision_fusion_table_collisions.py:
  * 55-135): every stage exists as its own oracle-gated operator, but
  * only a composed gate verifies the column contracts BETWEEN stages,
  * which is exactly the class of bug a per-stage gate can't see.
  *
  * Seven chained stages, each consuming the previous stage's survivor
  * frame (not the raw corpus):
  *
  *   1. '''Gopher structural filter''' — keep docs passing all four
  *      word-level Gopher rules (TextFunctions.gopherRules).
  *   2. '''Exact dedup''' — min-doc_id survivor per normalized-text
  *      fingerprint, within stage-1 survivors (Dedup.exactOf).
  *   3. '''Near-dup cluster survivorship''' — MinHash LSH pairs +
  *      connected components over stage-2 survivors; keep the
  *      min-doc_id canonical doc per cluster (Dedup.nearDupClustersOf).
  *   4. '''Substring scrub''' — maximal duplicated token spans cut out
  *      of each surviving doc; the SCRUBBED text (not the original)
  *      flows downstream (Dedup.applySpans over substringSpansOf).
  *   5. '''Decontamination''' — eval slice = doc_id % 97 = 0 of the
  *      ORIGINAL corpus (a benchmark is defined outside the pipeline);
  *      eval docs leave the training set here, and survivors keep only
  *      docs whose scrubbed text shares < 5% of its distinct 8-token
  *      windows with the eval gram set.
  *   6. '''Mixture sampling''' — per-source token budgets (40% global
  *      budget × mixtureWeights permille) over SCRUBBED token counts;
  *      integral DIV arithmetic + deterministic md5-bucket accept, so
  *      the survivor set is a pure function of the corpus.
  *   7. '''Batch packing''' — doc_id-ordered running token total via
  *      the two-phase scalable prefix sum (Prefix.runningSum);
  *      batch_id = floor(tokens_before / capacity).
  *
  * Output: one row per shipped document — (doc_id, source, n_tok,
  * scrub_h, batch_id) — n_tok the scrubbed token count, scrub_h the
  * 60-bit hash of the scrubbed text, so the oracle hash pins every
  * stage's effect on the final corpus byte-for-byte.
  *
  * Scale shape: no stage introduces a shape its standalone operator
  * doesn't already have — the semi-joins between stages are keyed on
  * doc_id (survivor id sets, far smaller than the corpus), the scrub
  * text rides per-doc rows (never a corpus-wide sort), and the one
  * global ordering (packing) is the broadcast-offset prefix sum.
  */
object Pipeline {

  /** Stage 1 — Gopher structural quality filter. The rules are a pure
    * per-row map, so the filter runs INLINE on the corpus scan (round
    * 17, guide §2.4): the previous shape scanned the corpus twice and
    * semi-joined docs against their own surviving ids — a broadcast of
    * ~90% of the corpus's keys locally and a full shuffle join at
    * scale, for a predicate each row can answer about itself.
    * Survivor set identical by construction (gopherKeepExpr is the
    * rule frame's keep=1 condition verbatim; PipelineSpec pins the
    * stage against gopherRulesOf).
    */
  private def s1Of(docs: DataFrame): DataFrame =
    docs.filter(TextFunctions.gopherKeepExpr(col("text")))

  /** Stage 2 — exact dedup within stage-1 survivors. */
  private def s2Of(s1: DataFrame): DataFrame =
    s1.join(Dedup.exactOf(s1).select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Stage 3 — minhash near-dup cluster survivorship within s2. */
  private def s3Of(s2: DataFrame): DataFrame =
    s2.join(Dedup.nearDupClustersOf(s2)
      .filter(col("keep") === 1L).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Stage 4 — substring scrub: spans detected within s3 only, the
    * scrubbed text (not the original) flows downstream.
    */
  private def s4Of(s3: DataFrame): DataFrame = {
    val scrubbed = Dedup.applySpans(s3, Dedup.substringSpansOf(s3))
      .select(col("doc_id"), col("n_kept").as("n_tok"), col("scrub"))
    s3.select(col("doc_id"), col("source"))
      .join(scrubbed, Seq("doc_id"))
  }

  /** The stage-5 eval-gram set, materialized, with its routing count.
    * Stabilized (round 17, the TextFunctions.contamination fix): the
    * routing count() and the join share one materialization of the
    * eval-gram set instead of computing the branch twice. The eval
    * slice is Spread before the gram kernel (round 17 second pass):
    * a 1/97 filter of a single-row-group scan is one task.
    *
    * Depends ONLY on the raw corpus — never on stages 1-4 — so
    * [[stageFrames]] prefetches it on a branch (round 17 third pass,
    * guide §2.6 independent-job submission): its materialization +
    * count jobs fill executor capacity the driver-sequenced s1-s4
    * chain leaves idle, instead of running serially right before the
    * stage-5 join. Same frame, same count, same route decision.
    */
  private def evalGramsOf(docs: DataFrame): (DataFrame, Long) = {
    val evalGrams = Stabilize(
      TextFunctions.docGrams(
        Spread(docs.filter(col("doc_id") % 97 === 0), col("doc_id")),
        col("text"), 8)
        .select(col("h")).distinct().withColumn("hit", lit(1L)))
    (evalGrams, evalGrams.count())
  }

  /** Stage 5 — decontamination. Eval grams come from the ORIGINAL
    * corpus's held-out slice (the benchmark exists independent of any
    * pipeline filtering); training docs are scored on their SCRUBBED
    * text and drop out at ≥5% overlap. Eval-slice ids leave the
    * training corpus here too. The eval-gram join routes on the
    * measured gram count (VERDICT r15 item 3 — the
    * TextFunctions.contamination discipline): broadcast under
    * `evalBroadcastMax` so the training grams never shuffle, shuffle
    * both sides above it (the eval set is corpus-proportional, so an
    * unconditional broadcast is an executor-memory cliff at scale).
    */
  private def s5Of(eval: (DataFrame, Long), s4: DataFrame,
      evalBroadcastMax: Long): DataFrame = {
    val (evalGrams, evalCount) = eval
    val evalSide =
      if (evalCount <= evalBroadcastMax) broadcast(evalGrams)
      else evalGrams
    val train = s4.filter(col("doc_id") % 97 =!= 0)
    val contam = TextFunctions.docGrams(train, col("scrub"), 8)
      .join(evalSide, Seq("h"), "left")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .filter(col("n_hit").cast("double") >=
        lit(0.05) * col("n_grams").cast("double"))
      .select(col("doc_id"))
    train.join(contam, Seq("doc_id"), "left_anti")
  }

  /** Stage 6 — token-budget mixture sampling over scrubbed counts
    * (same integral arithmetic as text_mixture_sample: budget_s =
    * (total*40 DIV 100)*w‰ DIV 1000, accept‰ = min(1000,
    * budget_s*1000 DIV tok_s), deterministic md5 bucket).
    */
  private def s6Of(spark: SparkSession, s5: DataFrame): DataFrame = {
    import spark.implicits._
    val perSource = s5.groupBy(col("source")).agg(sum(col("n_tok")).as("tok_s"))
    val total = perSource.agg(sum(col("tok_s")).as("tok_total"))
    val weights = TextFunctions.mixtureWeights.toDF("source", "w_permille")
    val rates = perSource
      .join(broadcast(weights), Seq("source"))
      .crossJoin(broadcast(total))
      .withColumn("budget_s",
        expr("(tok_total * 40 DIV 100) * w_permille DIV 1000"))
      // tok_s = 0 guarded explicitly (ADVICE r15): Spark's DIV by zero
      // yields NULL and least(1000, NULL) = 1000 (accept all) while
      // DuckDB's // raises — a source whose surviving token sum is 0
      // accepts nothing on both sides instead of diverging.
      .withColumn("accept_permille",
        when(col("tok_s") === 0L, lit(0L)).otherwise(
          least(lit(1000L), expr("budget_s * 1000 DIV tok_s"))))
      .select(col("source"), col("accept_permille"))
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 7),
        16, 10).cast("long"), lit(1000L))
    s5.join(broadcast(rates), Seq("source"))
      .filter(bucket < col("accept_permille"))
  }

  /** The stage survivor frames, shared by the corpus gate, the
    * attrition report and the materialized mode. s1–s3 are full-width
    * document frames; s4–s6 carry (doc_id, source, n_tok, scrub) with
    * n_tok the SCRUBBED token count. With `landIn` set, each stage
    * frame also lands as `s<k>.parquet` there.
    *
    * Work beside the chain runs as [[graft.GraftSession.branches]]:
    * the eval-gram prefetch (round 17 third pass, guide §2.6 — stage
    * 5's eval side reads the raw corpus only, so it materializes
    * concurrently with s1-s4 and is merely awaited where stage 5 needs
    * its route decision) and each landing. The call returns once every
    * branch has ended; a failure anywhere cancels the rest and is
    * rethrown.
    */
  private def stageFrames(spark: SparkSession, dir: String,
      evalBroadcastMax: Long = 8000000L, landIn: Option[String] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame,
         DataFrame, DataFrame, DataFrame) =
    graft.GraftSession.branches(spark) { br =>
      val docs = Tables.load(spark, dir, "documents")
      val eval = br.fork("pipe s5: eval grams (prefetch)")(evalGramsOf(docs))
      // Every stage frame is Stabilized (round 16, guide §5): each stage
      // has at least two consumers — the next stage references its
      // input 2-3 times (detector + semi-join back), and the report
      // reads all seven — so a lazy chain re-executes stage k's prefix
      // once per downstream reference and the EARLY stages re-run
      // exponentially in depth (profiled at sf0.1: the same gopher map
      // stage executed 6x, 112 jobs and 44 s of task time for a 21 s
      // wall). With each stage a value (localCheckpoint; reliable-dir
      // escape on clusters), every stage executes exactly once.
      //
      // Overlapped landings (round 17, guide §2.6 — independent-job
      // submission): a landing writes FROM the stage's value on a
      // branch while the next stage computes from the same value, so
      // the write of stage k no longer serializes stage k+1, and the
      // landed artifacts are byte-for-byte the stabilized frames' rows.
      def value(name: String, df: DataFrame): DataFrame = {
        val v = Stabilize(df)
        landIn.foreach(out => br.fork(s"pipe_stages: land $name")(
          v.write.mode("overwrite").parquet(s"$out/$name.parquet")))
        v
      }
      // Each stage's INPUT is Spread (round 17 second pass, guide §2):
      // the gate corpus scans as ONE unsplittable task and AQE's
      // tiny-volume coalescing leaves the checkpointed stage frames at
      // one partition, so every per-doc detector kernel downstream
      // (gopher word rules, fingerprint md5, shingle+signature, token
      // windows, gram explosion) ran on one core while the rest idled
      // (graft.Profile: 0.4-1.1 s single-task stages throughout the
      // chain), and the landings inherit the spread layout (parallel
      // parquet writes). Spread repartitions ONLY when the frame
      // carries fewer partitions than default parallelism — a no-op at
      // real scan widths — and every operator in the chain is
      // partition-layout independent by contract (`Soak layout` +
      // layout-invariance specs).
      val s1 = value("s1", s1Of(Spread(docs, col("doc_id"))))
      val s2 = value("s2", s2Of(Spread(s1, col("doc_id"))))
      val s3 = value("s3", s3Of(Spread(s2, col("doc_id"))))
      val s4 = value("s4", s4Of(Spread(s3, col("doc_id"))))
      val s5 = value("s5",
        s5Of(eval(), Spread(s4, col("doc_id")), evalBroadcastMax))
      val s6 = value("s6", s6Of(spark, Spread(s5, col("doc_id"))))
      (docs, s1, s2, s3, s4, s5, s6)
    }

  def llmCorpus(spark: SparkSession, dir: String,
      capacity: Long = 512L,
      evalBroadcastMax: Long = 8000000L): DataFrame = {
    val (_, _, _, _, _, _, s6) = stageFrames(spark, dir, evalBroadcastMax)
    // Stage 7 — batch packing: scalable two-phase prefix sum over
    // doc_id order (doc_id is unique — Prefix.runningSum's contract).
    Prefix.runningSum(
        s6.select(col("doc_id"), col("source"), col("n_tok"), col("scrub")),
        col("n_tok"), "cum", Seq(col("doc_id")))
      .select(col("doc_id"), col("source"), col("n_tok"),
        Dedup.md5Bits(col("scrub"), 1, 15).as("scrub_h"),
        floor((col("cum") - col("n_tok")).cast("double") / capacity)
          .cast("long").as("batch_id"))
      .orderBy(col("doc_id"))
  }

  /** Per-stage attrition report (`pipe_report`): where the corpus went
    * — one row per pipeline stage with surviving docs and tokens (raw
    * word counts through the detection stages, SCRUBBED counts from
    * the scrub stage on, where tokens can shrink without docs
    * disappearing). This is the dashboard a data team reads before
    * shipping a mixture; the composed-gate twin of `dedup_report`.
    *
    * Cost: each stage aggregates to ONE row (map-side combinable), and
    * since round 16 [[stageFrames]] Stabilizes every stage, so each
    * union branch aggregates a materialized frame instead of
    * recomputing its stage prefix (Catalyst does not share subplans
    * across union branches — before the stabilization the whole report
    * cost about one extra pipeline run, 40.2 s vs 38.4 s at the 10x
    * soak). The durable-artifact twin — land the stage frames the run
    * is already shipping and aggregate those — is
    * [[materializeStageFrames]] + [[llmReportFrom]] (gated as
    * `pipe_report_mat`, measured by `Soak pipe`).
    */
  def llmReport(spark: SparkSession, dir: String): DataFrame = {
    val (docs, s1, s2, s3, s4, s5, s6) = stageFrames(spark, dir)
    // raw-docs row Spread like the stages: its word-count kernel
    // otherwise runs on the scan's one task (round 17 second pass)
    reportOver(Spread(docs, col("doc_id")), s1, s2, s3, s4, s5, s6)
  }

  private def reportOver(docs: DataFrame, s1: DataFrame, s2: DataFrame,
      s3: DataFrame, s4: DataFrame, s5: DataFrame, s6: DataFrame)
      : DataFrame = {
    def aggRaw(df: DataFrame, no: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(TextFunctions.nWords(lower(col("text")))), lit(0L))
            .as("n_tokens"))
        .select(lit(no.toLong).as("stage_no"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    def aggScrub(df: DataFrame, no: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
        .select(lit(no.toLong).as("stage_no"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    aggRaw(docs, 0, "raw")
      .unionAll(aggRaw(s1, 1, "gopher"))
      .unionAll(aggRaw(s2, 2, "exact_dedup"))
      .unionAll(aggRaw(s3, 3, "cluster_dedup"))
      .unionAll(aggScrub(s4, 4, "substring_scrub"))
      .unionAll(aggScrub(s5, 5, "decontaminate"))
      .unionAll(aggScrub(s6, 6, "mixture_sample"))
      .orderBy(col("stage_no"))
  }

  /** Materialized-stage-frames mode (round 16, VERDICT r15 item 5):
    * run the pipeline LANDING each stage's survivor frame as parquet
    * (Scratch-managed) — the [[stageFrames]] chain with every stage
    * value also written out on a branch, so every stage prefix
    * executes exactly once and the landed frames are the artifacts a
    * production run ships anyway. Every landing has ended when it
    * returns, so the directory is complete; a failed call cancels the
    * rest, deletes the directory and rethrows. Returns the stage
    * directory for [[llmReportFrom]] (and any other consumer that
    * wants a stage's output without replaying its prefix — the
    * dashboard-over-shipped-frames shape the recompute report's
    * scaladoc documents).
    */
  def materializeStageFrames(spark: SparkSession, dir: String,
      evalBroadcastMax: Long = 8000000L): String = {
    val out = graft.Scratch.dir("pipe_stages")
    // a failed call leaves no stage directory that could look complete
    try stageFrames(spark, dir, evalBroadcastMax, Some(out))
    catch { case e: Throwable =>
      graft.Scratch.deleteRecursively(java.nio.file.Paths.get(out))
      throw e
    }
    out
  }

  /** The attrition report aggregated from LANDED stage frames: seven
    * single-row scans instead of seven recomputed stage prefixes —
    * the report drops from ≈one pipeline run to the cost of reading
    * the frames back (`Soak pipe` measures the ratio at the 10x
    * soak). Row-identical to [[llmReport]] by construction (the
    * frames are the same stages, landed), and gated against the same
    * DuckDB oracle as `pipe_report_mat`.
    */
  def llmReportFrom(spark: SparkSession, dir: String,
      stagesDir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    def s(n: Int) = Tables.read(spark, s"$stagesDir/s$n.parquet")
    reportOver(Spread(docs, col("doc_id")), s(1), s(2), s(3), s(4), s(5), s(6))
  }

  /** `pipe_report_mat` gate surface: the materialized mode end to end
    * (land s1–s6, then aggregate the landed frames), hash-gated on the
    * SAME oracle as `pipe_report` — so the mode switch is proven
    * row-identical at the gate, not just by the spec.
    */
  def llmReportMaterialized(spark: SparkSession, dir: String): DataFrame =
    llmReportFrom(spark, dir, materializeStageFrames(spark, dir))

  /** Streaming twin of the composed corpus pipeline (round 16, VERDICT
    * r15 item 6): one microbatch loop chaining the curation stages the
    * batch pipeline composes — per batch:
    *
    *   1. '''Gopher structural filter''' over the batch frame
    *      (TextFunctions.gopherRulesOf — rejects never reach an index).
    *   2. '''Near-dup suppression vs accumulated history''' — the
    *      persisted MinHash index probe (Dedup.probeMinhashIndex);
    *      batch docs near-duplicating ANY prior survivor drop.
    *   3. '''Quote scrub vs accumulated history''' — the persisted
    *      gram-index probe (Dedup.probeGramIndex) + span cut
    *      (Dedup.applySpans); spans quoting prior survivors leave the
    *      text, the doc survives.
    *   4. '''Keyed upsert''' of the scrubbed survivors
    *      (Sink.dedupUpsert — replayed batches absorb idempotently).
    *   5. '''Index appends''' of the LANDED text (scrub): both indexes
    *      accumulate exactly what was kept, so the next batch dedups
    *      and scrubs against the corpus as shipped — a batch-2 twin or
    *      quote of a batch-1 survivor is caught end-to-end
    *      (StreamingSpec pins the two-batch chain).
    *
    * Same state discipline as the standalone stream stages: everything
    * lives in the parquet artifacts (no streaming state store), index
    * appends are at-least-once (duplicate rows are verdict-harmless,
    * bounded by the `compactEvery` lifecycle pass over BOTH indexes —
    * family defaults 32/128 per docs/SCALING.md). Witness-heap memory
    * is bounded, and the probe plans that aggregate with its own
    * headroom, as in the batch twin.
    *
    * The batch's survivor frame is [[Stabilize]]d (lineage truncated),
    * not merely persisted — a hazard found building this twin: a
    * parquet APPEND fires CacheManager.recacheByPath on the index
    * path, which EVICTS any cached plan whose lineage reads that path
    * and recomputes it on next use against the freshly-appended files.
    * A persisted survivor frame therefore flips to EMPTY right after
    * `appendToMinhashIndex` (the recompute probes the index that now
    * holds the doc's own signature — a self-pair drops every
    * survivor), and the gram append would index nothing. The
    * single-index streams survive this by accident of artifact order
    * (candidates come from bands.parquet, written after sigs.parquet,
    * so a mid-append recompute still sees the old band set — their
    * two-batch specs pin it); chaining a SECOND append makes the
    * hazard real, so the frame must be a value, not a plan.
    */
  def corpusStream(docs: DataFrame, mhIndexPath: String,
      gramIndexPath: String, outPath: String, checkpoint: String,
      threshold: Double = 0.5, maxWitnesses: Int = 64,
      window: Int = 10, minTokens: Int = 15,
      mhCompactEvery: Int = 32, gramCompactEvery: Int = 128)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!batch.isEmpty) {
          val keepIds = TextFunctions.gopherRulesOf(batch)
            .filter(col("keep") === 1L).select(col("doc_id"))
          val passed = batch.join(keepIds, Seq("doc_id"), "left_semi")
          val pairs = Dedup.probeMinhashIndex(passed,
            Tables.read(spark, s"$mhIndexPath/bands.parquet"),
            Tables.read(spark, s"$mhIndexPath/sigs.parquet"),
            threshold, maxWitnesses)
          val dupIds = pairs.select(col("new_id").as("doc_id")).distinct()
          val survivors = passed.join(dupIds, Seq("doc_id"), "left_anti")
          val spans = Dedup.probeGramIndex(survivors,
            Tables.read(spark, s"$gramIndexPath/grams.parquet"),
            window, minTokens)
          val scrubbed = Stabilize(Dedup.applySpans(survivors, spans))
          graft.sources.Sink.dedupUpsert(spark, outPath, scrubbed,
            keys = Seq("doc_id"), versionCol = "doc_id")
          val landed = scrubbed.select(col("doc_id"), col("scrub").as("text"))
          Dedup.appendToMinhashIndex(landed, mhIndexPath)
          Dedup.appendToGramIndex(landed, gramIndexPath, window)
          if (mhCompactEvery > 0 &&
              batchId % mhCompactEvery == mhCompactEvery - 1)
            Dedup.compactMinhashIndex(spark, mhIndexPath): Unit
          if (gramCompactEvery > 0 &&
              batchId % gramCompactEvery == gramCompactEvery - 1)
            Dedup.compactGramIndex(spark, gramIndexPath): Unit
        }
      }
      .start()
}
