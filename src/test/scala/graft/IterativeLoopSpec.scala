package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.graftspec.ListenerBus

import graft.functions.TextFunctions
import graft.operators.{Dedup, Quantiles}

/** The driver-sequenced loops (quantile narrowing, BPE training,
  * min-label propagation) at the settings a production caller uses:
  * repeated calls reuse their generated classes, BPE's job count does
  * not grow with the merge count, no call leaves a job label on the
  * caller's thread, and label propagation either converges within its
  * round bound or fails.
  */
class IterativeLoopSpec extends SparkSpec {
  import spark.implicits._

  private def merges(dir: String, k: Int): Seq[(Long, String, String, Long)] =
    TextFunctions.bpeMerges(spark, dir, k).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))

  test("bpeMerges leaves the calling thread's job description unchanged") {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val before = sc.getLocalProperty(key)
    sc.setJobDescription("caller label")
    try {
      merges(sf, 8)
      assert(sc.getLocalProperty(key) == "caller label")
    } finally sc.setLocalProperty(key, before)
  }

  test("codegen reuse: a second run of the iterative loops compiles no classes") {
    def round(): Unit = {
      Quantiles.quantilesNarrowMulti(spark, sf).collect()
      Quantiles.weightedMedianNarrow(spark, sf).collect()
      TextFunctions.bpeMerges(spark, sf).collect()
    }
    round()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
  }

  test("bpe at k=512 over a 1,000+ word vocabulary: merges equal the " +
    "full-recount reference, job count constant in k, exhaustion fails") {
    // Seeded synthetic corpus: 1,200 distinct lowercase words over a
    // 12-letter alphabet, Zipf-like frequencies, shuffled into docs.
    val rnd = new scala.util.Random(20261017L)
    val vocab = Iterator.continually {
        (1 to 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(12)).toChar).mkString
      }.distinct.take(1200).toVector
    val tokens = rnd.shuffle(vocab.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(math.max(1, 2000 / (i + 1)))(w)
    })
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe512").toString
    tokens.grouped(50).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    // Reference: classic BPE, every round recounts every pair of the
    // whole vocabulary; words are ASCII, so String order is byte order.
    val wordCnt = tokens.groupBy(identity).view.mapValues(_.size.toLong).toSeq
    var segs = wordCnt.map { case (w, c) => (w.mkString(" ") + " </w>", c) }
    val reference = (1 to 512).map { r =>
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (s, c) =>
        s.split(" ").sliding(2).filter(_.length == 2)
          .foreach(p => pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + c)
      }
      val ((a, b), n) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      segs = segs.map { case (s, c) =>
        ((" " + s + " ").replace(s" $a $b ", s" $a$b ").trim, c)
      }
      (r.toLong, a, b, n)
    }

    val sc = spark.sparkContext
    def jobsOf(k: Int): (Seq[(Long, String, String, Long)], Int) = {
      val tag = s"bpe-jobs-k$k"
      sc.addJobTag(tag)
      val m = try merges(dir, k) finally sc.removeJobTag(tag)
      ListenerBus.drain(sc)
      (m, sc.statusTracker.getJobIdsForTag(tag).length)
    }
    val (m512, jobs512) = jobsOf(512)
    assert(m512 == reference)
    // Pinned independently of the reference: the per-round Spark-job
    // trainer produced the same list (CRC32 over "rank lhs rhs count"
    // lines) when run with a thread stack deep enough for its lineage.
    assert(m512.take(4) == Seq((1L, "d", "</w>", 3497L), (2L, "b", "</w>", 2544L),
      (3L, "i", "e", 2329L), (4L, "i", "d", 2087L)))
    assert(m512.last == ((512L, "c", "lc", 14L)))
    val crc = new java.util.zip.CRC32
    crc.update(m512.map { case (r, a, b, n) => s"$r $a $b $n" }.mkString("\n").getBytes("UTF-8"))
    assert(crc.getValue == 927754172L)
    val (m8, jobs8) = jobsOf(8)
    assert(m8 == reference.take(8))
    assert(jobs8 > 0 && jobs512 == jobs8, s"jobs at k=8: $jobs8, at k=512: $jobs512")

    val past = vocab.map(_.length).sum + 1 // more merges than symbols
    val e = intercept[IllegalArgumentException](merges(dir, past))
    assert(e.getMessage.contains("vocabulary fully merged before round"))
  }

  /** Component minimum of every node in `edges`, by driver-side
    * union-find.
    */
  private def unionFindMin(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(n => n -> find(n)).toMap
  }

  test("minLabels labels a random multi-component graph with its " +
    "union-find component minima") {
    val rnd = new scala.util.Random(20261020L)
    val ids = rnd.shuffle((1L to 400L).toVector)
    // 15 components of 2-20 nodes: a random tree each plus a few
    // extra edges, node ids shuffled, edges in either direction
    val sizes = Seq.fill(15)(2 + rnd.nextInt(19))
    val starts = sizes.scanLeft(0)(_ + _)
    val random = sizes.zip(starts).flatMap { case (n, at) =>
      val nodes = ids.slice(at, at + n)
      val tree = (1 until n).map(i => (nodes(i), nodes(rnd.nextInt(i))))
      val extra = Seq.fill(n / 4)((nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
        .filter { case (a, b) => a != b }
      (tree ++ extra).map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
    }
    // plus a chain whose far end is 19 hops from its minimum: the
    // deepest component the round bound admits
    val chain = (1000L until 1000L + Dedup.MaxLabelRounds - 1).map(i => (i, i + 1))
    val edges = random ++ chain
    val got = Dedup.minLabels(edges.toDF("src", "dst")).as[(Long, Long)].collect()
    assert(got.length == got.map(_._1).distinct.length)
    assert(got.toMap == unionFindMin(edges))
  }

  test("minLabels fails on a path deeper than its round bound") {
    val path = (0L until Dedup.MaxLabelRounds.toLong).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException](
      Dedup.minLabels(path.toDF("src", "dst")))
    assert(e.getMessage.contains(
      s"min-label propagation did not converge in ${Dedup.MaxLabelRounds} rounds"))
  }

  test("minLabels leaves no CacheManager entry behind, converged or not") {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Fusion.entityResolution(spark, sf).collect()
    val path = (0L until Dedup.MaxLabelRounds.toLong).map(i => (i, i + 1))
    intercept[IllegalArgumentException](Dedup.minLabels(path.toDF("src", "dst")))
    assert(spark.sharedState.cacheManager.isEmpty,
      "label propagation must release its edge frame")
  }
}
