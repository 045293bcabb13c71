package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Crafted corpus: docs 1/2 identical, doc 3 a near-dup of 1 (one word
  // changed), doc 4 unrelated.
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (4L, "completely different content about spark shuffles and parquet footers here")
  ).toDF("doc_id", "text")

  test("shingles produces distinct word trigrams") {
    val sh = Dedup.shingles(docs).filter(col("doc_id") === 1L)
      .select("shingle").as[String].collect()
    assert(sh.contains("the quick brown"))
    assert(sh.length == sh.distinct.length)
  }

  test("shingles is empty for docs shorter than n words") {
    val tiny = Seq((9L, "two words")).toDF("doc_id", "text")
    assert(Dedup.shingles(tiny).count() == 0)
  }

  test("exact dedup groups identical docs on sf data") {
    val e = Dedup.exact(spark, sf)
    assert(e.agg(sum("n_dups")).as[Long].head() ==
      graft.sources.Tables.load(spark, sf, "documents").count())
  }

  test("nearDupClusters assigns every doc; members share the component min") {
    val cl = Dedup.nearDupClusters(spark, sf)
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(cl.count() == nDocs)
    // cluster_id is the min doc_id of its cluster, so every cluster's
    // canonical row must exist and carry keep=1
    val canon = cl.filter(col("cluster_id") === col("doc_id"))
      .filter(col("keep") === 0L)
    assert(canon.count() == 0)
    val pairs = Dedup.minhashPairs(spark, sf)
    val joined = pairs
      .join(cl.select(col("doc_id").as("id_a"), col("cluster_id").as("ca")), "id_a")
      .join(cl.select(col("doc_id").as("id_b"), col("cluster_id").as("cb")), "id_b")
    assert(joined.filter(col("ca") =!= col("cb")).count() == 0)
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("minhash LSH surfaces the identical and near-dup pairs") {
    val sigs = Dedup.minhashSignatures(docs)
    assert(sigs.count() == 4)
    // identical docs → identical signatures in every component
    val s12 = sigs.filter(col("doc_id").isin(1L, 2L)).drop("doc_id").collect()
    assert(s12(0).toSeq == s12(1).toSeq)
  }

  test("simhash of identical docs matches; near-dups are hamming-close") {
    val sigs = Dedup.simhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <
      java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)))
  }

  test("spanDups finds cross-document copied windows only") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten eleven"),
      (2L, "ZZZ one two three four five six seven eight nine ten QQQ"),
      (3L, "completely different words with no shared window at all here")
    ).toDF("doc_id", "text")
    val toks = col("toks")
    // replicate the operator body on an inline frame (the public entry
    // reads from a table dir)
    val idx = when(size(toks) >= 10, sequence(lit(0), size(toks) - 10))
      .otherwise(array().cast("array<int>"))
    val wins = transform(idx, i =>
      Dedup.md5Bits(concat_ws(" ", slice(toks, i + 1, lit(10))), 1, 15))
    val spans = docs
      .select(col("doc_id"), graft.functions.TextFunctions.words(lower(col("text"))).as("toks"))
      .select(col("doc_id"), posexplode(wins).as(Seq("pos", "h")))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
    // docs 1 and 2 share exactly one 10-token window ("one ... ten")
    val rows = spans.collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(1) == 2L) // n_docs: both sharing docs
    assert(rows(0).getLong(2) == 1L) // first_doc
  }

  test("default df cap keeps hot-shingle pair volume linear") {
    // 60 docs all sharing ONE trigram ("hot shared phrase"), otherwise
    // unique. Uncapped, that single shingle makes every pair a
    // candidate — 60*59/2 = 1770 join rows from one key (quadratic in
    // its df). The default MaxShingleDf cap (50 < 60) drops it, so no
    // candidate pairs survive at all: pair volume tracks the capped
    // per-shingle df, not the hottest key.
    val dir = java.nio.file.Files.createTempDirectory("graft-hotshingle")
    val hot = (1 to 60).map { i =>
      (i.toLong, s"hot shared phrase u${i}a u${i}b u${i}c")
    }.toDF("doc_id", "text")
    hot.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Dedup.MaxShingleDf < 60)
    val uncapped =
      Dedup.ngramJaccard(spark, dir.toString, threshold = 0.0, maxDf = None)
    assert(uncapped.count() == 60L * 59 / 2)
    val capped = Dedup.ngramJaccard(spark, dir.toString, threshold = 0.0)
    assert(capped.count() == 0)
  }

  test("dedup report echoes the per-method counts") {
    val rep = Dedup.dedupReport(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.keySet == Set("exact_dup_groups", "minhash_pairs",
      "ngram_pairs", "simhash_pairs", "span_hashes"))
    assert(rep("minhash_pairs") == Dedup.minhashPairs(spark, sf).count())
    assert(rep("span_hashes") == Dedup.spanDups(spark, sf).count())
    assert(rep("exact_dup_groups") ==
      Dedup.exact(spark, sf).filter(col("n_dups") > 1).count())
  }

  test("embeddingPairs only pairs within a label block") {
    val p = Dedup.embeddingPairs(spark, sf, threshold = 0.0)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val bad = pairsOf(p).filter { case (a, b) => emb(a) != emb(b) }
    assert(bad.isEmpty)
  }

  test("cell cap: a skewed cell is RP-LSH sub-blocked, small cells stay exact") {
    import spark.implicits._
    // One deliberately oversized "hot" cell (label 1, 80 vectors) and
    // one under-cap "cold" cell (label 2, 10 vectors). Vectors are
    // deterministic pseudo-random; vec 1000 and 1001 are planted
    // identical so the banding MUST keep them (identical vectors have
    // identical signatures in every band).
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(j => (((seed * 31 + j * 17) % 19) - 9).toFloat)
    val hot = (0 until 80).map(i =>
      (1000L + i, if (i == 1) vec(1000) else vec(1000 + i), 1))
    val cold = (0 until 10).map(i => (2000L + i, vec(i), 2))
    val emb = (hot ++ cold).toDF("vec_id", "embedding", "label")
    val maxCell = 20
    val got = Dedup.cellBoundedPairs(emb, maxCell)
      .select(col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toSet
    // Small cell: bit-exact all-pairs survive the cap untouched.
    val coldExact = (for {
      a <- cold.map(_._1); b <- cold.map(_._1) if a < b
    } yield (a, b)).toSet
    assert(got.filter(_._1 >= 2000L) == coldExact)
    // Oversized cell: candidate volume is cut below the quadratic
    // all-pairs count (the scan is banded, not cell²)...
    val hotGot = got.filter(p => p._1 < 2000L && p._2 < 2000L)
    val hotQuadratic = 80L * 79 / 2
    assert(hotGot.nonEmpty && hotGot.size < hotQuadratic,
      s"expected banding to prune below $hotQuadratic, got ${hotGot.size}")
    // ...while the planted identical pair is guaranteed to collide.
    assert(hotGot.contains((1000L, 1001L)))
    // No cross-cell leakage in either path.
    assert(got.forall(p => (p._1 < 2000L) == (p._2 < 2000L)))
  }

  test("oversized-cell RP-LSH fallback recall is >= 0.9 at tau 0.8") {
    import spark.implicits._
    // One synthetic cell far over the cap, with 150 PLANTED near-dup
    // pairs at cosine ~0.99 (base + 15% gaussian noise, dim 32, seeded
    // so the measurement is reproducible). Exact truth = the all-pairs
    // path (cap above the cell size); measured = the same cell forced
    // through the RP-LSH banding (cap below). Both verify with the
    // exact cosine, so the only possible loss is banding recall.
    val rng = new scala.util.Random(42)
    def gauss(): Float = rng.nextGaussian().toFloat
    val rows = (0 until 150).flatMap { i =>
      val base = Array.fill(32)(gauss())
      val dup = base.map(v => v + 0.15f * gauss())
      Seq((i.toLong * 2, base, 1), (i.toLong * 2 + 1, dup, 1))
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    def pairsAtTau(maxCell: Int): Set[(Long, Long)] =
      Dedup.cellBoundedPairs(emb, maxCell)
        .filter(graft.functions.VectorFunctions
          .cosine(col("emb_a"), col("emb_b")) >= 0.8)
        .select(col("id_a"), col("id_b"))
        .as[(Long, Long)].collect().toSet
    val exact = pairsAtTau(1000)
    val banded = pairsAtTau(50)
    assert(exact.size >= 150, s"planted pairs missing from truth: ${exact.size}")
    // no false positives ever — banding only prunes candidates
    assert(banded.subsetOf(exact))
    val recall = banded.size.toDouble / exact.size
    assert(recall >= 0.9,
      s"4x8-bit band recall $recall (${banded.size}/${exact.size}) < 0.9")
  }

  test("n_cells_banded observe() metric reports the approximate regime") {
    import spark.implicits._
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 13 + j * 7) % 11 - 5).toFloat),
        if (i < 50) 1 else 2))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val seen = new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => seen.put(k, v) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def metricAfter(maxCell: Int): org.apache.spark.sql.Row = {
        import scala.jdk.CollectionConverters._
        def suffix(k: String): Long = k.stripPrefix("cell_bounded_pairs_").toLong
        // The listener bus is async: a PREVIOUS run's onSuccess can land
        // after this run starts, so only a key with a suffix newer than
        // everything already seen can belong to this run (the observe
        // name carries a monotonic id for exactly this reason).
        val before = seen.asScala.keys.collect {
          case k if k.startsWith("cell_bounded_pairs_") => suffix(k)
        }.foldLeft(-1L)(math.max)
        Dedup.cellBoundedPairs(emb, maxCell).count()
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        var row: Option[org.apache.spark.sql.Row] = None
        while (row.isEmpty && System.nanoTime() < deadline) {
          row = seen.asScala.collect {
            case (k, v) if k.startsWith("cell_bounded_pairs_") &&
              suffix(k) > before => (suffix(k), v)
          }.toSeq.sortBy(_._1).lastOption.map(_._2)
          if (row.isEmpty) Thread.sleep(100)
        }
        row.getOrElse(fail("observe() metric never arrived"))
      }
      // cap below the hot cell: exactly one banded cell, max cell 50
      val banded = metricAfter(20)
      assert(banded.getAs[Long]("n_cells_banded") == 1L)
      assert(banded.getAs[Long]("max_cell") == 50L)
      assert(banded.getAs[Long]("n_cells") == 2L)
      // cap above every cell: fully exact regime
      assert(metricAfter(100).getAs[Long]("n_cells_banded") == 0L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental index: parquet round-trip is lossless and the probe " +
    "equals a from-scratch signature-agreement check") {
    import graft.operators.Dedup
    val spark2 = spark
    import spark2.implicits._
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val old = docs.filter(col("doc_id") % 4 =!= 0)
    val fresh = docs.filter(col("doc_id") % 4 === 0)
    val idx = java.nio.file.Files.createTempDirectory("mh_idx_spec").toString
    Dedup.writeMinhashIndex(old, idx)
    // the persisted signature table must equal the in-memory build
    val sigsDisk = spark.read.parquet(s"$idx/sigs.parquet")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val sigsMem = Dedup.minhashSignatures(old)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(sigsDisk == sigsMem)
    val got = Dedup.probeMinhashIndex(fresh,
      spark.read.parquet(s"$idx/bands.parquet"),
      spark.read.parquet(s"$idx/sigs.parquet"), threshold = 0.5,
      maxWitnesses = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.nonEmpty)
    // from-scratch reference: banded cross-split candidates, verified
    // by component agreement over driver-collected signatures
    def sigMap(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(df).collect()
        .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong).toVector)
        .toMap
    val sn = sigMap(fresh)
    val so = sigMap(old)
    def bandsOf(sig: Vector[Long]): Set[String] =
      (0 until 8).map { b =>
        val comps = (0 until 4).map(r => sig(b * 4 + r).toString)
        java.security.MessageDigest.getInstance("MD5")
          .digest((b.toString +: comps).mkString("_")
            .getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.toSet
    val want = (for {
      (ni, nsig) <- sn.toSeq
      (oi, osig) <- so.toSeq
      if bandsOf(nsig).intersect(bandsOf(osig)).nonEmpty
      est = math.round(nsig.zip(osig).count(t => t._1 == t._2) / 32.0 * 1e6) / 1e6
      if est >= 0.5
    } yield (ni, oi) -> est).toMap
    assert(got == want)
  }

  test("incremental index maintenance: appended batches are visible to " +
    "the next probe") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val history = docs.filter(col("doc_id") % 4 === 1)
    val batch1 = docs.filter(col("doc_id") % 4 === 2)
    val batch2 = docs.filter(col("doc_id") % 4 === 0)
    val idx = java.nio.file.Files.createTempDirectory("mh_idx_grow").toString
    Dedup.writeMinhashIndex(history, idx)
    def probe(b: org.apache.spark.sql.DataFrame) =
      Dedup.probeMinhashIndex(b,
        spark.read.parquet(s"$idx/bands.parquet"),
        spark.read.parquet(s"$idx/sigs.parquet"), threshold = 0.5,
        maxWitnesses = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe(batch2)
    Dedup.appendToMinhashIndex(batch1, idx)
    val after = probe(batch2)
    // the old matches all survive, and batch2 now also matches against
    // batch1's appended entries
    assert(before.subsetOf(after))
    val vsBatch1 = after -- before
    assert(vsBatch1.nonEmpty, "appended batch must be probe-visible")
    assert(vsBatch1.forall { case (_, oldId) => oldId % 4 == 2 },
      "new matches must come from the appended batch")
  }

  /** One job `body` started: the caller session's `key` at job start,
    * the job's own `key` property (the SQL conf its execution
    * propagated), and whether its execution's plan holds an
    * ObjectHashAggregate.
    */
  private case class Job(caller: Option[String], prop: Option[String], objectAgg: Boolean)

  private def jobsOf[A](key: String)(body: => A): (A, Seq[Job]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], Option[String], Option[Long])]
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((spark.conf.getOption(key), prop(key),
          prop("spark.sql.execution.id").map(_.toLong)))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.graftspec.ListenerBus.drain(sc)
      (a, jobs.asScala.toSeq.map { case (c, p, id) => Job(c, p,
        id.exists(i => Option(plans.get(i)).exists(_.contains("ObjectHashAggregate")))) })
    } finally sc.removeSparkListener(listener)
  }

  test("the index probe's aggregate headroom lives in its own plan: the " +
    "caller's conf never changes, the probe's jobs carry it, rows are the same") {
    val key = org.apache.spark.sql.internal.SQLConf
      .OBJECT_AGG_SORT_BASED_FALLBACK_THRESHOLD.key
    val (rows, seen) = jobsOf(key)(Dedup.dedupIncremental(spark, sf).collect())
    // (a) the caller's session kept Spark's default the whole call
    val raised = (1 << 18).toString
    assert(seen.nonEmpty)
    assert(!seen.exists(_.caller.contains(raised)),
      s"caller session conf at job start: ${seen.map(_.caller).distinct}")
    // (b) the jobs that run the witness-heap aggregate still carry it
    val aggJobs = seen.filter(_.objectAgg)
    assert(aggJobs.nonEmpty)
    assert(aggJobs.forall(_.prop.contains(raised)),
      s"aggregate jobs' threshold: ${aggJobs.map(_.prop).distinct}")
    // (c) the sf0.001 gate rows, (new_id, old_id, est_jac) in gate order,
    // as the probe returned them when it ran under the caller's session
    def digest(rows: Array[org.apache.spark.sql.Row]): (Int, String) = {
      val text = rows.map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}")
        .mkString(";")
      (rows.length, java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    }
    assert(digest(rows) == (43, "fb2769b90e752eb829181d5267dc9435"))
    assert(digest(Dedup.dedupCompactProbe(spark, sf).collect()) ==
      (29, "dc1f624f9465e832efe3f19f86e3d2bd"))
  }

  test("repeated index probes share one session: no class is compiled " +
    "again, and conf the caller sets or unsets later reaches the probe") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val idx = java.nio.file.Files.createTempDirectory("mh_idx_session").toString
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 4 =!= 0), idx)
    def probe(): Long = Dedup.probeMinhashIndex(docs.filter(col("doc_id") % 4 === 0),
      spark.read.parquet(s"$idx/bands.parquet"),
      spark.read.parquet(s"$idx/sigs.parquet"), threshold = 0.5).count()
    probe()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    probe()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
    val marker = "spark.graft.spec.marker"
    def markers(): Seq[Option[String]] =
      jobsOf(marker)(probe())._2.filter(_.objectAgg).map(_.prop)
    spark.conf.set(marker, "on")
    try assert(markers().toSet == Set(Some("on")))
    finally spark.conf.unset(marker)
    assert(markers().toSet == Set(None))
  }

  test("substringSpans merges consecutive duplicated windows into one " +
    "maximal span and drops short ones") {
    // 20-token span shared verbatim by docs 11/12 inside unrelated text;
    // docs 13/14 share only a 12-token run (< minTokens → dropped).
    val shared = (1 to 20).map(i => s"common$i").mkString(" ")
    val short = (1 to 12).map(i => s"tiny$i").mkString(" ")
    val corpus = Seq(
      (11L, s"alpha beta gamma delta epsilon $shared zeta eta theta iota kappa"),
      (12L, s"one two three four five six seven $shared eight nine ten"),
      (13L, s"red orange yellow green blue $short indigo violet purple pink brown"),
      (14L, s"mon tue wed thu fri sat $short sun jan feb mar")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpansOf(corpus, window = 10, minTokens = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 11: shared span starts at token 5; doc 12: at token 7. The
    // island is the 11 consecutive window positions inside the 20-token
    // run → ONE merged span of exactly 20 tokens each; the 12-token run
    // never surfaces.
    assert(spans.toSet == Set((11L, 5L, 20L), (12L, 7L, 20L)))
  }

  test("substringScrub cuts exactly the merged spans and rebuilds the " +
    "surviving text in order") {
    val shared = (1 to 20).map(i => s"common$i").mkString(" ")
    val corpus = Seq(
      (11L, s"alpha beta gamma delta epsilon $shared zeta eta theta iota kappa"),
      (12L, s"one two three four five six seven $shared eight nine ten"),
      (13L, "mon tue wed thu fri sat sun jan feb mar apr may")
    ).toDF("doc_id", "text")
    val out = Dedup.substringScrubOf(corpus, window = 10, minTokens = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // docs 11/12 lose exactly the 20 shared tokens; doc 13 is untouched
    assert(out.toSet == Set(
      (11L, 30L, 10L, 20L), (12L, 30L, 10L, 20L), (13L, 12L, 12L, 0L)))
    // the scrub hash of the untouched doc equals the hash of its own text
    val h13 = Dedup.substringScrubOf(corpus, 10, 15)
      .filter(col("doc_id") === 13L).select("scrub_h").collect()(0).getLong(0)
    val href = corpus.filter(col("doc_id") === 13L)
      .select(Dedup.md5Bits(
        concat_ws(" ", graft.functions.TextFunctions.words(lower(col("text")))),
        1, 15)).collect()(0).getLong(0)
    assert(h13 == href)
  }

  test("substringScrub keeps a fully-duplicated doc as empty text") {
    val dup = (1 to 18).map(i => s"dup$i").mkString(" ")
    val corpus = Seq((21L, dup), (22L, dup)).toDF("doc_id", "text")
    val out = Dedup.substringScrubOf(corpus, window = 10, minTokens = 15)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val emptyH = Dedup.md5Bits(lit(""), 1, 15)
    val ref = corpus.sparkSession.range(1).select(emptyH).collect()(0).getLong(0)
    assert(out.toSet == Set((21L, 0L, 18L, ref), (22L, 0L, 18L, ref)))
  }

  test("gram index probe flags batch-vs-history spans only, and appends " +
    "become visible") {
    val shared = (1 to 20).map(i => s"common$i").mkString(" ")
    val batchOnly = (1 to 20).map(i => s"batch$i").mkString(" ")
    val history = Seq(
      (1L, s"alpha beta gamma delta epsilon $shared zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    // docs 10/11 share a span ONLY with each other, not with history
    val batch = Seq(
      (10L, s"one two three four five six seven $shared $batchOnly"),
      (11L, s"red orange yellow green blue indigo violet $batchOnly pink"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("gram_idx_spec").toString
    Dedup.writeGramIndex(history, idx)
    def probe() = Dedup.probeGramIndex(batch,
        batch.sparkSession.read.parquet(s"$idx/grams.parquet"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // only doc 10's history-shared span is flagged; the batch-internal
    // 20-token overlap is deliberately invisible to the incremental probe
    assert(probe() == Set((10L, 7L, 20L)))
    // accumulate doc 10 into the index: doc 11's batchOnly span (7 window
    // positions starting at token 7 of doc 10's tail...) now has history
    Dedup.appendToGramIndex(batch.filter(col("doc_id") === 10L), idx)
    val after = probe()
    // doc 11's batchOnly span is now history; doc 10 self-matches its
    // entire text (every one of its windows is in the appended index)
    assert(after == Set((10L, 0L, 47L), (11L, 7L, 20L)), s"got $after")
  }

  test("substringSpans on sf data: spans respect minTokens and never " +
    "overlap within a doc") {
    val spans = Dedup.substringSpans(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.nonEmpty)
    assert(spans.forall(_._3 >= 15))
    // islands are maximal: consecutive spans of one doc are separated by
    // at least one non-duplicated window position
    spans.groupBy(_._1).values.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array((_, s1, t1), (_, s2, _)) =>
          assert(s2 > s1 + t1 - 10 + 1, s"adjacent islands not merged: $ss")
        case _ =>
      }
    }
  }
}
