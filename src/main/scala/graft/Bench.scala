package graft

/** Benchmark main: headline queries at the SF the driver points at.
  * Results are fully materialized through the noop sink (count() alone
  * lets Catalyst prune the very work being measured).
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q_star_join_agg", "q_valid_entities",
    "q_topn_per_group", "q_sessionize", "q_tumbling_window",
    "q_asof_join", "q_salted_join_agg",
    "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard",
    "sim_bruteforce_topk", "text_quality", "mm_payload_stats",
    "q_fusion_etl", "dedup_span", "text_contamination",
    "q_merge", "q_bloom_prune", "sim_pq_topk",
    "dedup_containment", "sim_mrl_topk", "text_curriculum",
    "q_retention_cohort",
    // round-3 session-2 additions
    "q_ohlc", "q_decimal_agg", "dedup_semantic", "text_pmi",
    "mm_shard_pack", "q_concurrency",
    // round-3 session-4 additions
    "q_trend_regression", "q_histogram_equi", "q_capped_balance",
    "q_attribution", "sim_rrf_fusion", "text_boilerplate",
    // round-3 session-5 additions
    "q_ship_priority", "q_region_volume", "sim_sparse_cosine",
    "text_keywords", "dedup_minhash_oph", "text_sentence_dedup",
    // round-5 additions: the two-phase prefix-sum family, tracked
    // round-over-round so the scale-safe cumsum's constant cost stays
    // visible (VERDICT r4 item 9)
    "q_decile_lift", "q_gini", "q_mwu_test", "q_time_to_convert",
    "q_rfm", "q_psi")

  /** Round-12 widening (VERDICT r11 item 6): the plan shapes rounds
    * 5-11 added were never regression-guarded by the bench. Timed in
    * the same round-robin passes but reported SEPARATELY
    * (`value_new`/`queries_new`) so the legacy 48-query `value` stays
    * comparable across rounds. One representative per new shape:
    * JDBC write+partitioned-read loop, DSv2 filter pushdown, the
    * narrowing quantile family (single, multi-p, weighted), the
    * iterative min-label propagation, the ordered-fold perplexity
    * filter, and the incremental merge-state rollup.
    */
  val headlineNew: Seq[String] = Seq(
    "src_jdbc_roundtrip", "src_docgen_pushdown",
    "q_median_narrow", "q_quantiles_multi", "q_weighted_median_narrow",
    "q_entity_resolution", "text_bigram_lm", "q_incr_agg")

  /** Round-13 block, reported as `value_13`/`queries_13` — its own
    * bucket so `value_new` (the round-12 widening) stays comparable
    * round-over-round. One representative per new shape: the cost
    * router's default route, the weighted priority sketch, incremental
    * index dedup, the BPE merge loop, IVF-PQ, event-time
    * normalization, and the two-epoch watermark ingest.
    */
  val headline13: Seq[String] = Seq(
    "q_weighted_median_auto", "q_approx_weighted_quantile",
    "dedup_incremental", "text_bpe_merges", "sim_ivfpq_topk",
    "src_ts_normalize", "src_jdbc_incremental",
    "dedup_substring", "text_dsir",
    "dedup_substring_incremental", "q_theil_sen")

  /** Round-15 block (`value_15`/`queries_15`): the composed LLM-corpus
    * pipeline (seven chained stages — the heaviest single plan in the
    * gate) and the trained IVF×PQ gate (two k-means fits + shared
    * candidate ADC ranking), regression-tracked from birth. Round 16
    * adds the materialized-stage-frames report (land s1–s6, aggregate
    * the landed frames — the production report shape).
    */
  val headline15: Seq[String] = Seq(
    "pipe_llm_corpus", "sim_ivfpq_trained", "pipe_report_mat")

  def main(args: Array[String]): Unit = {
    // Optional arg: comma-separated query subset (dev-only A/B timing);
    // the driver invokes with no args and times the full headline.
    val all = headline ++ headlineNew ++ headline13 ++ headline15
    val picked = args.headOption
      .map(_.split(",").toSeq.filter(all.contains)).getOrElse(all)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftSession
      .builder(master = master, shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen paths once on the smallest SF so the measured
    // runs time the plan, not classloading.
    SparkEntry.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    // Block hygiene (round-13 forensics): the r13 artifact showed a
    // monotonic degradation gradient through the run's blocks (main
    // ×1.4 → soak10x ×2-51 → cluster12 ×4-17) — accumulated in-JVM
    // cache entries, leaked scratch, and heap growth turned the later
    // blocks into measurements of the host's state, not the engine.
    // Three countermeasures: (1) each block starts from a dropped
    // cache + wiped scratch + GC'd heap; (2) the multi-JVM cluster12
    // block runs FIRST, before this JVM's heap has grown through 67
    // queries × 3 passes; (3) scratch-disk free bytes are sampled
    // into the artifact so disk pressure is diagnosable after the fact.
    def blockReset(): Unit = {
      spark.catalog.clearCache()
      Scratch.wipeAll()
      System.gc()
    }
    val diskFree = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sampleDisk(): Unit = diskFree += Scratch.freeBytes() / (1 << 20)
    // Three timing passes, interleaved ROUND-ROBIN across queries (pass
    // 1 over every query, then pass 2, then pass 3) rather than
    // back-to-back per query: on a shared host, one contention window
    // then degrades one sample of many queries a little instead of all
    // three samples of one query 13x — the per-query min recovers, and
    // the min/median gap self-diagnoses how noisy the run was.
    // The first pass still pays plan compilation + codegen, later
    // passes are steady-state. A run that throws contributes NO timing —
    // a fast failure must not make the benchmark look faster; failed
    // queries are reported and fail the process.
    val times = scala.collection.mutable.Map.empty[String, Vector[(Double, Int)]]
      .withDefaultValue(Vector.empty)
    // host-load bookkeeping (r12 lesson: a noisy median was diagnosable
    // only because a second quiet-host run happened to be recorded) —
    // 1-min loadavg sampled before each pass and at the end, so the
    // artifact itself says how contended the run was
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    // cumulative iowait jiffies beside each loadavg sample: the
    // round-14 `Soak index` runs showed intermittent ~180 s stalls on
    // otherwise-identical probes (the same magnitude as r13's
    // unexplained soak10x row) — an IO-stall signature the artifact
    // should carry so a stalled run is diagnosable from the numbers
    val iowaits = scala.collection.mutable.ArrayBuffer.empty[Long]
    // CPU-steal jiffies too: the round-14 two-run comparison caught a
    // 104 s dedup_containment stall with FLAT iowait — the guest was
    // runnable and the hypervisor didn't schedule it; steal is the
    // counter that moves when that happens
    val steals = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sampleLoad(): Unit = {
      try loads += new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case _: Exception => loads += -1.0 }
      try {
        val cpu = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat"))).linesIterator
          .next().trim.split("\\s+")
        iowaits += cpu(5).toLong
        steals += cpu(8).toLong
      } catch { case _: Exception => iowaits += -1L; steals += -1L }
    }
    // Steal gate (round-15, VERDICT r14 item 1): round 14 *measured*
    // steal but didn't *act* on it — the official headline was whichever
    // run happened last (58.7 s at ~10k stolen jiffies/window vs 45.2 s
    // at 0.6k in the same binary). Now every timing window is gated: a
    // pass whose cumulative-steal delta exceeds ~25 jiffies/sec of
    // window (≈2k over a 90 s pass — the verdict's threshold; quiet
    // runs measure <10/s, contaminated ones >100/s) is marked noisy,
    // the block retries (bounded), and per-query minima prefer
    // quiet-window samples. The artifact carries a per-block
    // quiet flag so the headline is valid by construction.
    // Sampling + gating live in graft.StealGate (shared with
    // ClusterBench and the Soak scenarios), and a failed /proc/stat
    // read gates as NOISY instead of quiet — StealGate.delta maps a -1 sample to an
    // unknown (-1) delta, which quietWindow rejects (ADVICE r15).
    import StealGate.{stealNow, quietWindow}
    val stealRate = StealGate.rate
    // Multi-JVM mini-gate, FIRST (hygiene countermeasure 2): the
    // 12-query local-cluster soak (graft.ClusterBench) runs COLD in a
    // subprocess under local-cluster[4,8,8192] against the 10x corpus
    // — regressions that only bite across real process boundaries
    // (the round-7 class: executor-fatal broadcasts that local[n]
    // reference-sharing masks) land in the per-round artifact, and
    // running it before the main passes means the 4×8 GiB workers
    // compete with a small driver JVM, not a 100 GiB-class heap.
    // SPARK_GRAFT_CLUSTER12=0 skips (dev iteration).
    sampleDisk()
    var cluster12Quiet = false
    val cluster12: String =
      if (sys.env.get("SPARK_GRAFT_CLUSTER12").contains("0")) { cluster12Quiet = true; "{}" }
      else try {
        val dir10 = Soak.materialize(spark, 10, needFacts = true)
        blockReset() // the materialize itself caches/allocates
        // The subprocess self-gates since round 16 (VERDICT r15 item
        // 1): ClusterBench runs ≥2 round-robin passes with per-pass
        // steal deltas, prefers quiet-pass minima, and reports its
        // verdict on a CLUSTER12META line — pass windows are ~30-60 s,
        // so a quiet sample is catchable where the whole multi-minute
        // subprocess window (startup + N passes) rarely was. The
        // parent-side whole-window gate survives only as the fallback
        // for a subprocess too old/broken to emit the meta line.
        def runOnce(): (String, Boolean) = {
          val s0 = stealNow(); val t0 = System.nanoTime()
          val cmd = Seq("java") ++ ClusterBench.jvmOpens ++ Seq(
            "-Xmx8g", "-Dspark.ui.enabled=false",
            "-cp", new java.io.File("target/scala-2.13/classes").getAbsolutePath +
              ":/opt/spark/jars/*",
            "graft.ClusterBench", dir10)
          val pb = new ProcessBuilder(cmd: _*)
          pb.environment().put("SPARK_HOME", "/opt/spark")
          pb.environment().put("SPARK_SCALA_VERSION", "2.13")
          pb.redirectErrorStream(false)
          val p = pb.start()
          val out = new String(p.getInputStream.readAllBytes())
          val err = new String(p.getErrorStream.readAllBytes())
          val rc = p.waitFor()
          err.linesIterator.filter(_.contains("[cluster12]"))
            .foreach(System.err.println)
          val sec = (System.nanoTime() - t0) / 1e9
          val windowQuiet = quietWindow(StealGate.delta(s0, stealNow()), sec)
          val metaQuiet = out.linesIterator
            .find(_.startsWith("CLUSTER12META "))
            .map(_.contains("\"quiet\":true"))
          val quiet = metaQuiet.getOrElse(windowQuiet)
          System.err.println(f"[bench] cluster12 window $sec%.1f s " +
            f"quiet=$quiet (meta=${metaQuiet.isDefined})")
          val json = out.linesIterator.find(_.startsWith("CLUSTER12 "))
            .map(_.stripPrefix("CLUSTER12 ").trim)
            .filter(_ => rc == 0)
            .getOrElse {
              System.err.println(s"[bench] cluster12 subprocess rc=$rc")
              "{}"
            }
          (json, quiet)
        }
        // Subprocess-level retry stays as the outer bound: the inner
        // per-pass gate usually extracts 2 quiet passes itself, so a
        // not-quiet verdict here means a genuinely hostile window —
        // one full re-run is the bounded second chance.
        var (json, quiet) = runOnce()
        if (!quiet) {
          blockReset()
          val (json2, quiet2) = runOnce()
          if (quiet2 || json == "{}") { json = json2; quiet = quiet2 }
        }
        cluster12Quiet = quiet
        json
      } catch { case e: Throwable =>
        System.err.println(s"[bench] cluster12 failed: ${e.getMessage}")
        "{}"
      }
    blockReset()
    sampleDisk()
    // Round-robin passes, steal-gated: minimum 3 passes; while fewer
    // than 2 of them landed in quiet steal windows, keep adding passes
    // (max 6 — bounded retries, never an unbounded wait for a quiet
    // host). Per-query minima prefer quiet-window samples so the
    // headline is a quiet measurement by construction; value_median
    // stays over ALL samples so the run's noise level remains visible.
    val passQuiet = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val passSteal = scala.collection.mutable.ArrayBuffer.empty[Long]
    var passN = 0
    while (passN < 6 && (passN < 3 || passQuiet.count(identity) < 2)) {
      passN += 1
      sampleLoad()
      val s0 = stealNow(); val p0 = System.nanoTime()
      for (name <- picked) SparkEntry.queries.get(name).foreach { fn =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          times(name) = times(name) :+ ((System.nanoTime() - t0) / 1e9, passN)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
      val passSec = (System.nanoTime() - p0) / 1e9
      val sd = StealGate.delta(s0, stealNow())
      passSteal += sd
      passQuiet += quietWindow(sd, passSec)
      System.err.println(
        f"[bench] pass $passN $passSec%.1f s steal=$sd quiet=${passQuiet.last}")
    }
    sampleLoad() // final sample: right after the timing passes
    val mainQuiet = passQuiet.count(identity) >= 2
    def samples(n: String): Vector[Double] = times(n).map(_._1)
    // Per-query headline value: min over quiet-window samples when any
    // exist, else min over everything (and the block's quiet flag says
    // so). A noisy pass can only make a query look SLOWER, so taking
    // the quiet min never understates cost.
    def best(n: String): Double = {
      val quietSamples = times(n).collect {
        case (t, p) if passQuiet(p - 1) => t
      }
      if (quietSamples.nonEmpty) quietSamples.min else samples(n).min
    }
    def median(v: Vector[Double]): Double = {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val ok = picked.filter(n =>
      SparkEntry.queries.contains(n) && times(n).nonEmpty)
    val failed = picked.filter(n =>
      SparkEntry.queries.contains(n) && times(n).isEmpty)
    // legacy 48 stay the round-over-round comparable "value"/"queries";
    // the round-12 widening reports beside them as value_new/queries_new
    val (okLegacy, okRest) = ok.partition(headline.contains)
    val (okNew, okRest2) = okRest.partition(headlineNew.contains)
    val (ok13, ok15) = okRest2.partition(headline13.contains)
    val qs = okLegacy.map(n => "\"" + n + "\":" + f"${best(n)}%.3f")
      .mkString("{", ",", "}")
    val qsNew = okNew.map(n => "\"" + n + "\":" + f"${best(n)}%.3f")
      .mkString("{", ",", "}")
    val qs13 = ok13.map(n => "\"" + n + "\":" + f"${best(n)}%.3f")
      .mkString("{", ",", "}")
    val qs15 = ok15.map(n => "\"" + n + "\":" + f"${best(n)}%.3f")
      .mkString("{", ",", "}")
    val qsMedian = ok.map(n => "\"" + n + "\":" + f"${median(samples(n))}%.3f")
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = okLegacy.map(best).sum
    val totalMedian = okLegacy.map(n => median(samples(n))).sum
    val totalNew = okNew.map(best).sum
    val total13 = ok13.map(best).sum
    val total15 = ok15.map(best).sum
    // "queries"/"value" stay the per-query MIN (round-over-round
    // comparable with r3/r4); "value_median" exposes the noise level of
    // the run. The r5 artifact came back "parsed": null because the
    // single line (48 queries x min+median maps) outgrew the driver's
    // tail capture, which keeps the END of the output and truncated the
    // line's FRONT (including "value"). So: the per-query median map
    // goes on its own earlier line + a side file, and the driver's
    // machine line is printed LAST and kept to the r4-proven size.
    // 10x mini-soak as a standing regression guard: the five steepest
    // scale families (per docs/SCALING.md) run ONCE, cold, against the
    // Soak-materialized 10x corpus — soak fixes would regress silently
    // if only sf0.1 were timed per round. A query failure records -1
    // (visible, never silently dropped). SPARK_GRAFT_SOAK10X=0 skips
    // (dev iteration on unrelated queries).
    // Two Spark-cold passes per query, per-query MIN (round 14): one
    // hypervisor descheduling stall mis-measured single-pass rows
    // 10-30x in back-to-back runs of this block (104 s vs 3.2 s on an
    // identical query, flat iowait); blockReset() before EACH pass
    // keeps both passes cold at the Spark layer (no cached frames),
    // so the min is still a cold measurement — just one the host
    // can't single-handedly invalidate.
    var soakQuiet = false
    val soak10x: String =
      if (sys.env.get("SPARK_GRAFT_SOAK10X").contains("0")) { soakQuiet = true; "{}" }
      else try {
        sampleDisk()
        val dir10 = Soak.materialize(spark, 10, needFacts = false)
        val soakQs = Seq("text_quality", "dedup_span", "dedup_ngram_jaccard",
          "dedup_minhash_oph", "dedup_containment")
        // Steal-gated like the main block: two cold passes minimum,
        // extra passes (max 4) while fewer than 2 were quiet; per-query
        // min prefers quiet-window samples.
        val bestQuiet = scala.collection.mutable.Map.empty[String, Double]
          .withDefaultValue(Double.MaxValue)
        val bestAll = scala.collection.mutable.Map.empty[String, Double]
          .withDefaultValue(Double.MaxValue)
        var sPass = 0
        var sQuietN = 0
        while (sPass < 4 && (sPass < 2 || sQuietN < 2)) {
          sPass += 1
          blockReset()
          val s0 = stealNow(); val p0 = System.nanoTime()
          val passSecs = soakQs.map { n =>
            val sec = try {
              val t0 = System.nanoTime()
              SparkEntry.queries(n)(spark, dir10)
                .write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            } catch { case e: Throwable =>
              System.err.println(s"[bench] soak10x $n failed: ${e.getMessage}")
              -1.0
            }
            System.err.println(f"[bench] soak10x pass$sPass $n $sec%.3f s")
            n -> sec
          }
          val quiet = quietWindow(StealGate.delta(s0, stealNow()),
            (System.nanoTime() - p0) / 1e9)
          if (quiet) sQuietN += 1
          System.err.println(s"[bench] soak10x pass$sPass quiet=$quiet")
          for ((n, sec) <- passSecs if sec >= 0) {
            if (sec < bestAll(n)) bestAll(n) = sec
            if (quiet && sec < bestQuiet(n)) bestQuiet(n) = sec
          }
        }
        // >= 2 quiet passes, matching the loop's own target and the
        // main block's flag, so the three per-block quiet flags carry
        // the same guarantee (ADVICE r15: soakQuiet was set at 1).
        soakQuiet = sQuietN >= 2
        soakQs.map { n =>
          val sec =
            if (bestQuiet(n) != Double.MaxValue) bestQuiet(n)
            else if (bestAll(n) != Double.MaxValue) bestAll(n)
            else -1.0
          f""""$n":$sec%.3f"""
        }.mkString("{", ",", "}")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] soak10x materialize failed: ${e.getMessage}")
        "{}"
      }
    sampleDisk()
    val quietJson = s"""{"main":$mainQuiet,"soak10x":$soakQuiet,"cluster12":$cluster12Quiet}"""
    val host = s"""{"loadavg":${loads.map(l => f"$l%.2f")
      .mkString("[", ",", "]")},"iowait_jiffies":${iowaits
      .mkString("[", ",", "]")},"steal_jiffies":${steals
      .mkString("[", ",", "]")},"pass_steal":${passSteal
      .mkString("[", ",", "]")},"pass_quiet":${passQuiet
      .mkString("[", ",", "]")},"steal_rate_gate":$stealRate,"disk_free_mb":${diskFree
      .mkString("[", ",", "]")},"cpus":${Runtime.getRuntime.availableProcessors}}"""
    // parseSec: pull a numeric total out of a block's {"q":sec,...}
    // map so the FINAL machine line can carry totals only
    def blockTotal(json: String): Double =
      "-?\\d+\\.\\d+".r.findAllIn(json).map(_.toDouble).filter(_ >= 0).sum
    val detail = f"""{"metric":"detail","queries_median":$qsMedian,"sf":"$sfDir"}"""
    val full = f"""{"metric":"total","value":$total%.3f,"value_median":$totalMedian%.3f,"value_new":$totalNew%.3f,"value_13":$total13%.3f,"value_15":$total15%.3f,"unit":"sec","quiet":$quietJson,"queries":$qs,"queries_new":$qsNew,"queries_13":$qs13,"queries_15":$qs15,"failed":$failedJson,"soak10x":$soak10x,"cluster12":$cluster12,"host":$host,"sf":"$sfDir"}"""
    // The driver keeps only the LAST ~2000 chars of stdout and parses
    // the final line — r13's full line outgrew that window and the
    // round's official artifact carried no headline. The full line
    // (per-query maps for every block) lives in BENCH_DETAIL.json and
    // an earlier stdout line; the LAST line is the compact
    // round-over-round contract: totals for every block plus the
    // legacy 48-query map (the r4-proven size that has parsed every
    // round since).
    val machine = f"""{"metric":"total","value":$total%.3f,"value_median":$totalMedian%.3f,"value_new":$totalNew%.3f,"value_13":$total13%.3f,"value_15":$total15%.3f,"soak10x_total":${blockTotal(soak10x)}%.3f,"cluster12_total":${blockTotal(cluster12)}%.3f,"unit":"sec","quiet":$quietJson,"queries":$qs,"failed":$failedJson,"host":$host,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try { w.println(full); w.println(detail) } finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] side file write failed: ${e.getMessage}")
    }
    println(detail)
    println(full)
    println(machine)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
