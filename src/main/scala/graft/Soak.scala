package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measurement runner behind docs/SCALING.md's numbers: one main
  * whose scenarios each define only their data, their steps and their
  * row fields, while the runner owns everything they share.
  *
  * Usage:
  * {{{
  *   runMain graft.Soak <scenario> [scales] [steps]
  *   runMain graft.Soak stream [secs] [rps] [blowupSecs] [steps]
  * }}}
  *   scenario  queries | skew | layout | index | pipe | stream |
  *             median | pq | rp | substring
  *   scales    comma list of corpus multiples of sf0.1 (per-scenario
  *             default; `pq` reads the three testdata dirs instead)
  *   steps     comma list: run only these steps (a query, variant,
  *             family, leg or pipeline name); empty runs them all
  *
  * The runner owns: the session ([[GraftSession.builder]], master and
  * cores from its environment defaults), a q1 codegen warm-up on
  * sf0.001, the step filter, the append-only JSONL sink
  * (`soak_results.jsonl`, or `stream_bench.jsonl` for `stream`) with
  * one sanitized `error` row per failed step and a skipped row once a
  * fatal error stopped the SparkContext, one task listener
  * ([[Soak.TaskClock]]), one save-set-restore conf scope and the
  * generated-data version gate. Steal-gated timing lives in
  * [[StealGate]]. A run with any failed step exits 1.
  *
  * The `queries` scenario soaks the scale-critical operator families at
  * 1x / 10x / 100x over K-times-sf0.1 datasets (under
  * /tmp/graft_soak/x<K>, generated once, reused):
  *
  *  - `documents` — K disjoint copies of the corpus. Copy 0 is the
  *    original; copy k > 0 keeps every column but deterministically
  *    PERMUTES the token order (sort by xxhash64(text, copy, position),
  *    pure array codegen — no shuffle). Token multisets — and so
  *    lengths, quality stats, Zipf mass — are preserved; shingle sets
  *    are randomized, so near-dup detectors do NOT pair a copy with its
  *    original and candidate volume stays linear, which is exactly the
  *    property real corpus growth has. Seeding the permutation by TEXT
  *    (not doc_id) keeps planted exact-dup groups intact within every
  *    copy, so dedup_exact's group structure scales linearly too.
  *  - `embeddings` — K copies with vec_id and label shifted per copy,
  *    and copy k > 0 passed through a deterministic diagonal ±1
  *    orthogonal transform (sign flip per (copy, position)). Within a
  *    copy ALL pairwise cosines are preserved (orthogonal transform),
  *    so planted near-dup structure grows linearly; ACROSS copies
  *    cosines decorrelate, so an unblocked detector (sim_rp_lsh) sees
  *    no copy-of-copy pairs — without the transform every original
  *    appears K times verbatim and the TRUE near-dup pair volume is
  *    K²/2 per original (~10⁹ pairs at 1000x), quadratic in the data
  *    itself, which no detector implementation can make linear. Cell
  *    SIZE stays constant while cell COUNT grows K-fold (what a grown
  *    corpus under the same quantizer does), so label-blocked pair
  *    volume also scales linearly.
  *  - `orders` / `events` / `lineitem` — K copies with keys shifted
  *    into disjoint ranges; o_totalprice gets +0.01*copy so the
  *    distinct-value count (the prefix-sum family's scale dimension)
  *    grows with K instead of saturating.
  *  - dimension tables are copied verbatim (they stay broadcast-sized
  *    at any corpus scale — that is their design point).
  *
  * It emits one `soak` row per (scale, query) as it finishes (partial
  * runs still yield data) plus a per-scale `soak_total`.
  */
object Soak {

  /** The scale-critical set: the most expensive headline queries plus
    * the whole prefix-sum and dedup families (VERDICT r5 next-round
    * item 2).
    */
  val soakQueries: Seq[String] = Seq(
    // classic scan-agg baseline
    "q1_pricing_summary",
    // prefix-sum family (two-phase cumsum discipline)
    "q_histogram_equi", "q_rfm", "q_psi", "q_decile_lift", "q_gini",
    "q_mwu_test", "q_time_to_convert",
    // dedup family
    // dedup_minhash itself is NOT here: its uncapped pair frontier is
    // quadratic on the twin-heavy soak corpus and cannot complete at
    // 100x on this host (docs/SCALING.md round 13) — dedup_incremental
    // is the witness-capped shape that soaks instead
    "dedup_exact", "dedup_minhash_oph", "dedup_ngram_jaccard",
    "dedup_span", "dedup_containment", "dedup_semantic", "dedup_embedding",
    "dedup_incremental", "dedup_substring", "dedup_substring_apply",
    "dedup_substring_incremental",
    // text curation
    "text_quality", "text_boilerplate", "text_keywords",
    "text_curriculum", "text_sentence_dedup", "text_dsir",
    // similarity + multimodal packing
    "sim_bruteforce_topk", "mm_shard_pack",
    // joins whose shape is the scale story: streaming-merge as-of,
    // bucket-bounded range, salt-split skew join, star broadcast
    "q_asof_join", "q_range_join", "q_salted_join_agg", "q_star_join_agg",
    // event-sequence + graph + basket self-joins
    "q_sessionize", "q_market_basket", "q_pagerank",
    // banded embedding pairs + benchmark-contamination gram join
    "sim_rp_lsh", "text_contamination",
    // round 15: the composed seven-stage corpus pipeline + its
    // attrition report (every stage already soaks piecemeal above;
    // the composition's own curve is the end-to-end claim) and the
    // URL canonicalization pass (expected flat — pure projection +
    // bounded windows)
    "pipe_llm_corpus", "pipe_report", "text_url_canon")

  private val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The generated testdata at scale factor `sf` (warm-ups and `pq`). */
  private[graft] def testdata(sf: String): String = s"/root/testdata/$sf"
  private[graft] val root = "/tmp/graft_soak"

  // ---- the runner ---------------------------------------------------

  /** One JSONL row: field name → value, in output order. */
  type Row = Seq[(String, Any)]

  /** A decimal written with fixed places (`1.500`), as rows always were. */
  final case class Num(text: String)
  def num(x: Double, places: Int = 3): Num = Num(s"%.${places}f".format(x))

  /** A timed window's host-noise fields: the steal gate's verdict and
    * delta, the GC seconds inside it and the load average at its end.
    */
  def windowFields(w: StealGate.Timed[_]): Row = Seq("quiet" -> w.quiet,
    "steal" -> w.steal, "gc_s" -> num(w.gcSec), "load1" -> num(w.load1, 2))

  private[graft] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private[graft] def sanitize(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .replaceAll("[\"\\n]", " ").take(160)

  private[graft] val Stopped =
    "skipped: SparkContext stopped by a prior step's fatal error"

  /** Per-stage successful-task durations (the skew ratio: max / median
    * task of the stage holding the longest task — wall time says
    * WHETHER a hot key hurt, the ratio says WHY), plus scan input and
    * shuffle-write totals (what proves pruning or bucketing did what
    * the plan said, not just that wall time moved).
    */
  final class TaskClock extends org.apache.spark.scheduler.SparkListener {
    private val byStage = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val inputRows, inputBytes, shuffleWriteBytes =
      new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      if (t.taskInfo != null && t.taskInfo.successful)
        byStage.computeIfAbsent(t.stageId,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
          .add(t.taskInfo.duration): Unit
      val m = t.taskMetrics
      if (m != null) {
        inputRows.addAndGet(m.inputMetrics.recordsRead): Unit
        inputBytes.addAndGet(m.inputMetrics.bytesRead): Unit
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    }
    /** (max task ms, median task ms, max/median) of the stage with the
      * longest task; zeros when no task finished.
      */
    def skew(): (Long, Long, Double) = {
      import scala.jdk.CollectionConverters._
      val stages = byStage.values().asScala.map(_.asScala.toVector.sorted)
        .filter(_.nonEmpty)
      if (stages.isEmpty) (0L, 0L, 0.0)
      else {
        val worst = stages.maxBy(_.last)
        val (mx, md) = (worst.last, worst(worst.size / 2))
        (mx, md, if (md > 0) mx.toDouble / md else 0.0)
      }
    }
  }

  /** One scenario run: the session, the sink and the step filter. */
  final class Run(val spark: SparkSession, sinkPath: String,
      val args: IndexedSeq[String], val only: Set[String]) {
    private val sink = new java.io.PrintWriter(
      new java.io.FileWriter(sinkPath, true))
    private[graft] var failures = 0

    def close(): Unit = sink.close()

    def wants(step: String): Boolean = only.isEmpty || only(step)

    /** The first positional arg as a sorted comma list of scales. */
    def scales(default: Int*): Seq[Int] =
      args.headOption.filter(_.nonEmpty)
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(default)
        .sorted

    def emit(row: Row): Unit = {
      val line = row.map { case (k, v) =>
        val s = v match {
          case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
          case Num(t) => t
          case x => x.toString
        }
        s"\"$k\":$s"
      }.mkString("{", ",", "}")
      println(line); sink.println(line); sink.flush()
    }

    /** Runs step `name` unless the filter excludes it and emits
      * `key ++ body`. A throw emits `key ++ failed(message)` instead and
      * the run goes on; once a fatal error has stopped the
      * SparkContext, every later step emits `key ++ failed(Stopped)`.
      */
    def step(name: String, key: Row,
        failed: String => Row = msg => Seq("error" -> msg))
        (body: => Row): Unit =
      if (wants(name)) {
        val row =
          if (spark.sparkContext.isStopped) { failures += 1; failed(Stopped) }
          else try body catch { case e: Throwable =>
            failures += 1
            failed(sanitize(e))
          }
        emit(key ++ row)
      }

    /** Save-set-restore for session conf: `keys` are restored (or unset)
      * after `body`, whatever `body` sets.
      */
    def confScope[A](keys: String*)(body: => A): A = {
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      try body
      finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

    def withConf[A](kv: (String, String)*)(body: => A): A =
      confScope(kv.map(_._1): _*) {
        kv.foreach { case (k, v) => spark.conf.set(k, v) }
        body
      }

    /** `body` with a fresh [[TaskClock]] registered on the context. */
    def tasks[A](body: TaskClock => A): A = {
      val clock = new TaskClock
      spark.sparkContext.addSparkListener(clock)
      try body(clock) finally spark.sparkContext.removeSparkListener(clock)
    }

    /** Drains the listener bus before a [[TaskClock]] is read. */
    def drain(): Unit = Thread.sleep(1000)

    /** A cold one-shot measurement: releases the previous step's
      * shuffle files first (at 1000x each join shuffles ~15 GB, and
      * dead shuffle data would exhaust the scratch disk; ContextCleaner
      * removes it only after the owning objects are collected), then
      * times `body` under a [[TaskClock]]. A throw becomes the status,
      * so a variant that dies still reports how long it ran.
      */
    def cold(body: => Unit): (Double, TaskClock, String) = {
      System.gc()
      Thread.sleep(2000)
      tasks { clock =>
        val t0 = System.nanoTime()
        val status = try { body; "ok" } catch { case e: Throwable =>
          failures += 1
          sanitize(e)
        }
        val sec = (System.nanoTime() - t0) / 1e9
        drain()
        (sec, clock, status)
      }
    }
  }

  private final case class Scenario(sink: String, stepsArg: Int,
      body: Run => Unit)

  private val scenarios: Map[String, Scenario] = {
    import SoakScenarios._
    val soak = "soak_results.jsonl"
    Map(
      "queries" -> Scenario(soak, 1, queries),
      "skew" -> Scenario(soak, 1, skew),
      "layout" -> Scenario(soak, 1, layout),
      "index" -> Scenario(soak, 1, index),
      "pipe" -> Scenario(soak, 1, pipe),
      "stream" -> Scenario("stream_bench.jsonl", 3, stream),
      "median" -> Scenario(soak, 1, median),
      "pq" -> Scenario(soak, 1, pq),
      "rp" -> Scenario(soak, 1, rp),
      "substring" -> Scenario(soak, 1, substring))
  }

  def main(args: Array[String]): Unit = {
    val sc = args.headOption.flatMap(scenarios.get).getOrElse {
      System.err.println("usage: graft.Soak <" +
        scenarios.keys.toSeq.sorted.mkString("|") + "> [scales] [steps]" +
        "  (stream: [secs] [rps] [blowupSecs] [steps])")
      sys.exit(2)
    }
    val rest = args.toIndexedSeq.drop(1)
    val only = rest.lift(sc.stepsArg).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, sc.sink, rest, only)
    try {
      // codegen warm-up on the smallest data so the first timed step
      // measures plans, not classloading
      noop(SparkEntry.queries("q1_pricing_summary")(spark,
        testdata("sf0.001")))
      sc.body(run)
    } finally {
      run.close()
      spark.stop()
    }
    if (run.failures > 0) sys.exit(1)
  }

  // ---- generated data -----------------------------------------------

  /** The version gate every generated directory shares: unless `dir`'s
    * `marker` file names `version`, the directory is wiped, recreated
    * and stamped before anything is built into it (a layout from an
    * older generator, silently reused by a per-table `_SUCCESS` skip,
    * would invalidate the measurements). True when the stamp was
    * already current, i.e. whatever `dir` holds is this generator's.
    */
  private[graft] def versionGate(dir: String, marker: String,
      version: Int): Boolean = {
    val m = new java.io.File(s"$dir/$marker")
    val current = m.exists() && scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(m.toPath)).trim.toInt
    ).getOrElse(-1) == version
    if (!current) {
      System.err.println(s"[soak] $dir: not generator v$version — (re)building")
      rmTree(new java.io.File(dir))
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(m.toPath, version.toString.getBytes): Unit
    }
    current
  }

  private[graft] def rmTree(f: java.io.File): Unit = {
    // listFiles() is null (not empty) on I/O error or racing delete
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(): Unit
  }

  private[graft] def done(dir: String, tables: String*): Boolean =
    tables.forall(t => new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists())

  /** K disjoint copies. The base table is re-split across the worker
    * count BEFORE the explode: the sf0.1 bases are single parquet
    * files (one input split), and exploding x1000 before any exchange
    * would run the whole 600M-row expansion on ONE core — the exact
    * single-file lesson the soak taught for the OUTPUT side (see
    * write()), applied to the input side.
    */
  private def copies(df: DataFrame, k: Int): DataFrame =
    df.repartition(32)
      .withColumn("copy", explode(sequence(lit(0), lit(k - 1))))

  /** Deterministic per-copy token permutation — see class doc. */
  private def permutedDocs(docs: DataFrame, k: Int): DataFrame = {
    val toks = split(col("text"), " ")
    val permuted = array_join(
      transform(
        array_sort(
          transform(toks, (t, i) =>
            struct(xxhash64(col("text"), col("copy"), i).as("h"), t.as("t")))),
        s => s.getField("t")),
      " ")
    copies(docs, k)
      .select(
        (col("doc_id") + col("copy") * 10000000L).as("doc_id"),
        when(col("copy") === 0, col("text")).otherwise(permuted).as("text"),
        col("lang"), col("source"), col("n_chars"))
  }

  /** Corpus-family queries read only documents/embeddings; the fact
    * tables (orders/events/lineitem — ~16 GB at 1000x) materialize
    * only when a requested query actually needs them.
    */
  private def corpusOnly(q: String): Boolean =
    Seq("dedup_", "text_", "sim_", "mm_", "pipe_").exists(q.startsWith)

  /** Queries that read ONLY the embeddings table — an embeddings-only
    * soak (e.g. sim_rp_lsh at 2048x to activate the tier-4 banding at
    * >4M vectors) skips the far more expensive permuted-documents
    * expansion.
    */
  private def embeddingsOnly(q: String): Boolean =
    q.startsWith("sim_") ||
      Set("dedup_embedding", "dedup_semantic", "dedup_semantic_sweep")
        .contains(q)

  /** Bump whenever a generator's SEMANTICS change (not just perf).
    * v2 = sign-flipped embeddings + text-seeded doc permutation (r6:
    * the per-copy orthogonal sign-flip changed embeddings semantics
    * but old dirs kept quadratic verbatim copies). v3 = timestamp
    * columns carried as session-TZ TIMESTAMP: engine-written parquet
    * embeds the Spark schema in the footer, and a pre-flip corpus pins
    * TIMESTAMP_NTZ through that metadata REGARDLESS of the session's
    * inferTimestampNTZ=false — keeping every date filter over the
    * corpus on the inert-pushdown path the flip exists to close
    * (round 12).
    */
  val GeneratorVersion = 3

  /** Public so Bench's per-round 10x regression guard reuses the same
    * generator (and its version gate).
    */
  def materialize(spark: SparkSession, k: Int,
      needFacts: Boolean, needDocs: Boolean = true): String = {
    val dir = s"$root/x$k"
    versionGate(dir, "_SOAK_SCHEMA", GeneratorVersion): Unit
    System.err.println(s"[soak] materializing $dir (existing tables kept) ...")
    def t(name: String) = graft.sources.Tables.load(spark, base, name)
    // Multi-file output layout comes from `copies`' INPUT-side
    // repartition (32 splits before the explode), so each expansion
    // writes 32 files without a second corpus-wide shuffle after the
    // explode. The first soak run showed why layout matters: a 53 MB
    // single-file 100x documents table serialized the whole shingle
    // pipeline onto one core (160 s of a 231 s query). File layout is
    // part of the scale contract.
    // Per-table idempotence (skip tables already written): lets a
    // schema fix to ONE table regenerate just that table by deleting
    // its directory, without rebuilding the whole scale dir.
    def write(df: DataFrame, name: String): Unit =
      if (!done(dir, name))
        df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    if (needDocs) write(permutedDocs(t("documents"), k), "documents")
    val flipped = transform(col("embedding"), (x, i) =>
      when(col("copy") === 0 || pmod(xxhash64(col("copy"), i), lit(2)) === 0, x)
        .otherwise(-x))
    write(copies(t("embeddings"), k).select(
      (col("vec_id") + col("copy") * 10000000L).as("vec_id"),
      flipped.as("embedding"),
      (col("label") + col("copy") * 10000).cast("int").as("label")),
      "embeddings")
    if (needFacts) {
    write(copies(t("orders"), k).select(
      (col("o_orderkey") + col("copy") * 100000000L).as("o_orderkey"),
      (col("o_custkey") + col("copy") * 10000000L).as("o_custkey"),
      col("o_orderstatus"),
      round(col("o_totalprice") + col("copy") * 0.01, 2).as("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")), "orders")
    write(copies(t("events"), k).select(
      (col("event_id") + col("copy") * 100000000L).as("event_id"),
      col("ts"),
      (col("user_id") + col("copy") * 10000000L).as("user_id"),
      col("event_type"), col("value"), col("props")), "events")
    write(copies(t("lineitem"), k)
      .withColumn("l_orderkey", col("l_orderkey") + col("copy") * 100000000L)
      .drop("copy"), "lineitem")
    }
    for (name <- Seq("region", "nation", "customer", "supplier", "part"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$base/$name.parquet"),
        java.nio.file.Paths.get(s"$dir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    System.err.println(s"[soak] $dir ready")
    dir
  }

  // ---- the `queries` scenario --------------------------------------

  private[graft] def queries(run: Run): Unit = {
    val picked = soakQueries.filter(run.wants)
    for (k <- run.scales(1, 10, 100)) {
      val dir = materialize(run.spark, k,
        needFacts = picked.exists(q => !corpusOnly(q)),
        needDocs = picked.exists(q => !embeddingsOnly(q)))
      val total = picked.flatMap(queryStep(run, k, dir, _)).sum
      run.emit(Seq("metric" -> "soak_total", "scale" -> k,
        "sec" -> num(total), "n" -> picked.size))
    }
  }

  /** One `soak` row: the query run cold-to-cold at scale `k` over `dir`,
    * returning its seconds when it succeeded.
    *
    * Two passes at EVERY scale, reported separately: sec_cold is the
    * first pass (includes substrate cache build + codegen), sec is the
    * min. Growth factors must compare cold-to-cold — the first soak
    * design ran one pass at 100x but min-of-two at smaller scales, and
    * the warm substrate cache (the deliberate Dedup cross-query cache)
    * made the 10x points reflect CACHED re-runs, inflating the
    * 10x->100x factor into a spurious super-linear flag for the dedup
    * family. No steal retries here (synthetic extra passes would change
    * the cold-to-cold semantics), but every row records whether its
    * window was quiet so a contaminated curve is diagnosable from the
    * row.
    */
  private[graft] def queryStep(run: Run, k: Int, dir: String,
      name: String): Option[Double] = {
    var sec: Option[Double] = None
    SparkEntry.queries.get(name).foreach { fn =>
      run.step(name, Seq("metric" -> "soak", "scale" -> k, "query" -> name)) {
        val passes = if (k >= 1000) 1 else 2
        val w = StealGate.timedWindow {
          (1 to passes).map { _ =>
            val t0 = System.nanoTime()
            noop(fn(run.spark, dir))
            (System.nanoTime() - t0) / 1e9
          }
        }
        sec = Some(w.value.min)
        Seq("sec" -> num(w.value.min), "sec_cold" -> num(w.value.head)) ++
          windowFields(w)
      }
    }
    sec
  }
}
