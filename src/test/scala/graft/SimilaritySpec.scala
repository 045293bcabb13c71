package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteforceTopK returns k ranked neighbors per query") {
    val t = Similarity.bruteforceTopK(spark, sf, k = 5)
    val counts = t.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(counts.size == Similarity.NumQueries)
    assert(counts.values.forall(_ == 5L))
    // ranks are 1..5 and cosine non-increasing within a query
    val rows = t.filter(col("q_id") === 0L).orderBy("rk")
      .select("rk", "cos").as[(Long, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows.sliding(2).forall(p => p(0)._2 >= p(1)._2))
  }

  test("centroids are per-label element-wise means") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val c = Similarity.centroids(emb)
    val dim = emb.select(size(col("embedding"))).as[Int].head()
    val lens = c.select(size(col("centroid"))).as[Int].collect()
    assert(lens.forall(_ == dim))
    // spot-check one (label, pos) mean
    val l0 = c.filter(col("label") === 0)
      .select(element_at(col("centroid"), 1)).as[Double].head()
    val manual = emb.filter(col("label") === 0)
      .select(avg(element_at(col("embedding"), 1))).as[Double].head()
    assert(math.abs(l0 - manual) < 1e-9)
  }

  test("sqTopK quantizes to [-127,127] ints and tracks the exact ranking") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val mx = array_max(transform(col("embedding"), x => abs(x))).cast("double")
    val scale = when(mx > lit(0.0), lit(127.0) / mx).otherwise(lit(1.0))
    val qv = transform(col("embedding"),
      x => floor(x.cast("double") * scale + lit(0.5)).cast("double"))
    val bad = emb.select(explode(qv).as("v"))
      .filter(col("v") < -127.0 || col("v") > 127.0 || col("v") =!= floor(col("v")))
      .count()
    assert(bad == 0, "quantized values must be integers in [-127, 127]")

    val exact = graft.operators.Similarity.bruteforceTopK(spark, sf)
      .select(col("q_id"), col("vec_id"))
    val approx = graft.operators.Similarity.sqTopK(spark, sf)
      .select(col("q_id"), col("vec_id"))
    val k = graft.operators.Similarity.TopK
    val nq = exact.select(col("q_id")).distinct().count()
    val hits = approx.intersect(exact).count()
    // int8 quantization of 8-dim vectors is coarse but must still
    // broadly agree with the exact ranking.
    assert(hits * 2 >= nq * k,
      s"recall@$k too low: $hits of ${nq * k} exact neighbors retained")
  }

  test("pqTopK codes are bounded and the ADC ranking is sane") {
    val pq = Similarity.pqTopK(spark, sf)
    val rows = pq.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).distinct.length == Similarity.NumQueries)
    assert(rows.groupBy(_._1).values.forall(_.length == Similarity.TopK))
    // Approximate distances are nonnegative and nondecreasing in rank.
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.forall(_._4 >= 0.0))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 <= b._4
        case _ => true
      })
    }
    // A 16-codeword sample codebook over random data is a coarse
    // quantizer; require only that ADC beats chance by a wide margin:
    // chance recall@5 over ~500 candidates is ~1%, require >=10%.
    val bf = Similarity.bruteforceTopK(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val hits = rows.map(t => (t._1, t._3)).toSet.intersect(bf).size
    assert(hits * 10 >= bf.size,
      s"PQ recall collapsed: $hits of ${bf.size}")
  }

  test("ivfTopK returns ranked results from probed cells only") {
    // The synthetic labels are weak quantizer cells (intra-label cosine
    // ≈ 0), so recall vs brute force is bounded by nprobe/ncells — the
    // contract tested here is the probe-then-rank plumbing, not the
    // cluster quality of the data.
    val ivf = Similarity.ivfTopK(spark, sf, k = 5, nprobe = 3)
    val counts = ivf.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(counts.size == Similarity.NumQueries)
    assert(counts.values.forall(_ == 5L))
    val bf = Similarity.bruteforceTopK(spark, sf, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(
      ivf.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    ).size.toDouble / bf.size
    assert(recall > 0.0, s"recall $recall")
  }

  test("ivfKMeansTopK builds a quantizer and returns ranked results") {
    val ivf = Similarity.ivfKMeansTopK(spark, sf, k = 5, nprobe = 4)
    val counts = ivf.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(counts.size == Similarity.NumQueries)
    assert(counts.values.forall(_ == 5L))
    val bf = Similarity.bruteforceTopK(spark, sf, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(
      ivf.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    ).size.toDouble / bf.size
    assert(recall > 0.0, s"recall $recall")
  }

  test("pairStats covers every label") {
    val s = Similarity.pairStats(spark, sf)
    assert(s.count() == 10)
    assert(s.filter(col("mean_cos_to_centroid") > 1.0).count() == 0)
  }

  test("centroidClassify assigns every vector exactly once") {
    val c = Similarity.centroidClassify(spark, sf)
    val n = c.agg(sum("n_vecs")).as[Long].head()
    assert(n == graft.sources.Tables.load(spark, sf, "embeddings").count())
    // labels cluster only weakly in the synthetic embeddings; the
    // diagonal must still clearly beat the 1-in-10 chance rate
    val diag = c.filter(col("label") === col("pred_label"))
      .agg(sum("n_vecs")).as[Long].head()
    assert(diag > n / 5, s"diagonal $diag of $n")
  }

  test("knnGraph emits k in-label neighbors per vector, ranked by cosine") {
    val g = Similarity.knnGraph(spark, sf, k = 3)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    // every vector appears (each label cell has > 3 members at sf0.001)
    assert(g.select("vec_id").distinct().count() == emb.count())
    // ranks are exactly 1..3 and never self-referential
    assert(g.groupBy("vec_id").count().filter(col("count") =!= 3).count() == 0)
    assert(g.filter(col("vec_id") === col("nb_id")).count() == 0)
    // rank 1 has the max cosine within each vector's neighbor list
    val viol = g.groupBy("vec_id").agg(
      max(col("cos")).as("mx"),
      max(when(col("rk") === 1, col("cos"))).as("r1"))
      .filter(col("r1") < col("mx"))
    assert(viol.count() == 0)
  }

  test("rp band values are stable and rpLshPairs verifies with exact cosine") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val s1 = Similarity.rpBandValues(emb, 4, 8).orderBy("vec_id", "band_idx")
      .as[(Long, Int, Long)].collect()
    val s2 = Similarity.rpBandValues(emb, 4, 8).orderBy("vec_id", "band_idx")
      .as[(Long, Int, Long)].collect()
    assert(s1.sameElements(s2))
    // every band value fits its width
    assert(s1.forall { case (_, _, v) => v >= 0 && v < 256 })
    val pairs = Similarity.rpLshPairs(spark, sf)
    assert(pairs.filter(col("cos") < 0.5).count() == 0)
  }

  test("gate probes plant near-dup pairs the banding must surface") {
    // The natural corpus has no pair above cos ~0.61, which made the
    // oracle row vacuous (r6 verdict item 2). probes=3 plants
    // deterministic scale+offset copies at cos ~0.9999; ALL three must
    // come back: each probe's signature is near-identical to its
    // source's, so at least one of the 4 bands collides.
    val pairs = Similarity.rpLshPairs(spark, sf, probes = 3).collect()
    assert(pairs.nonEmpty)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val low3 = emb.select(col("vec_id")).orderBy("vec_id").limit(3)
      .as[Long].collect()
    for (id <- low3) {
      val hit = pairs.find(r => r.getLong(0) == id &&
        r.getLong(1) == id + Similarity.ProbeIdOffset)
      assert(hit.isDefined, s"planted pair for vec $id not surfaced")
      assert(hit.get.getDouble(2) > 0.99)
    }
  }

  test("adaptive band width keeps RP-LSH candidate volume sub-quadratic") {
    import spark.implicits._
    // 4200 vectors — just past RpAdaptiveCutoff, the regime where the
    // fixed 8-bit bands went quadratic at the 100x soak (bucket
    // occupancy ~n/256 -> ~n²/256 pairs). Deterministic pseudo-random
    // spread vectors, plus one planted identical pair (9000, 9001):
    // identical vectors share every band at ANY width, so widening
    // must never lose them.
    val n = 4200
    // seeded Gaussian vectors: spread signatures (a structured modular
    // pattern here collides signatures and defeats the banding)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed * 7919L + 13)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val emb = (0 until n).map { i =>
      val id = if (i >= n - 2) 9000L + (i - (n - 2)) else i.toLong
      (id, if (id >= 9000L) vec(9000) else vec(i))
    }.toDF("vec_id", "embedding")
    val wide = Similarity.rpCandidates(emb, 4, 16).count()
    val narrow = Similarity.rpCandidates(emb, 4, 8).count()
    // 16-bit bands: expected occupancy n/65536 < 1 — candidate volume
    // collapses vs the 8-bit banding AND vs n²/2
    assert(wide < narrow / 10,
      s"16-bit banding should prune >=10x vs 8-bit: wide=$wide narrow=$narrow")
    assert(wide < n.toLong * n / 200, s"wide=$wide not sub-quadratic")
    val found = Similarity.rpCandidates(emb, 4, 16)
      .filter(col("id_a") === 9000L && col("id_b") === 9001L).count()
    assert(found == 1, "identical planted pair must survive wide banding")
    // tier-3 config (3 bands x 21 bits, the >1M-vector regime): prunes
    // at least as hard as tier 2 and still cannot lose identical pairs
    val widest = Similarity.rpCandidates(emb, 3, 21)
    assert(widest.count() <= wide)
    assert(widest.filter(col("id_a") === 9000L && col("id_b") === 9001L)
      .count() == 1)
    // tier-4 config (6 bands x 26 bits = 156 signature bits, the >4M
    // regime): per-band value storage has no 64-bit packed-signature
    // ceiling, so nb*bw can exceed 64. Occupancy n/2^26 < 0.001 here —
    // candidates collapse to near-zero — and identical vectors still
    // share every band at any width.
    val huge = Similarity.rpCandidates(emb, 6, 26)
    assert(huge.count() <= widest.count())
    assert(huge.filter(col("id_a") === 9000L && col("id_b") === 9001L)
      .count() == 1)
    // band values must respect the 26-bit width
    val bv = Similarity.rpBandValues(emb.limit(50), 6, 26)
    assert(bv.filter(col("band_val") < 0 ||
      col("band_val") >= (1L << 26)).count() == 0)
    assert(bv.select(countDistinct(col("band_idx"))).as[Long].head() == 6L)
  }

  test("tier rule at the 33M extrapolation edge retains near-identical " +
      "probes under 6x26 banding") {
    import spark.implicits._
    // The 16384x soak corpus (~33.5M vectors) lands in tier 4; assert
    // the rule picks it, and that a NEAR-identical pair (the gate's
    // scale+offset probe shape, cos ~0.9999 — not bit-identical, so
    // per-band collision is probabilistic: p^26 ~ 0.89 per band,
    // miss-all-6 ~ 3e-6) is retained by the 6x26 banding. Identical
    // retention is structural; near-identical retention is the recall
    // claim the tier doc makes — this pins it on deterministic data.
    assert(Similarity.rpBandConfig(33554432L) == (6, 26))
    // tier 5 (measured-in at round 9): past 64M vectors the rule
    // widens to 6x30 — occupancy back to ~0.06 where tier 4's was
    // approaching 1 (the `Soak rp` curve)
    assert(Similarity.rpBandConfig(Similarity.RpVastCutoff) == (6, 26))
    assert(Similarity.rpBandConfig(Similarity.RpVastCutoff + 1) == (6, 30))
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed * 104729L + 31)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val emb = ((0 until 2000).map(i => (i.toLong, vec(i))) :+
      (ProbeId, vec(7).map(x => (x * 1.01f + 0.001f)))) // probe of vec 7
      .toDF("vec_id", "embedding")
    val cands = Similarity.rpCandidates(emb, 6, 26)
    assert(cands.filter(col("id_a") === 7L && col("id_b") === ProbeId)
      .count() == 1, "cos~0.9999 probe pair must share a 26-bit band")
    // tier-5 banding retains the same near-identical pair (per-band
    // p^30 ~ 0.87, miss-all-6 ~ 4e-6 on these fixed hyperplanes)
    val cands5 = Similarity.rpCandidates(emb, 6, 30)
    assert(cands5.filter(col("id_a") === 7L && col("id_b") === ProbeId)
      .count() == 1, "cos~0.9999 probe pair must share a 30-bit band")
  }
  private val ProbeId = 900000L

  test("ivfpq composes the cell probe with PQ ranking: candidates stay " +
    "in probed cells, recall vs exact is reported") {
    val got = Similarity.ivfpqTopK(spark, sf).collect()
    // dense ranks per query, k rows each
    val byQ = got.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 5L), s"q=$q")
    }
    // composition invariant: ivfpq may only return vectors from the
    // query's PROBED CELLS — i.e. a subset of what the full-precision
    // IVF probe could see (ivfTopK with k = whole cell)
    val cellCandidates = Similarity.ivfTopK(spark, sf, k = 100000)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx.subsetOf(cellCandidates),
      "ivfpq returned a vector outside its query's probed cells")
    // recall@5 vs the exact ranking — the number a deployment reads
    // beside sim_recall_report's IVF column. The sf0.001 corpus has 10
    // synthetic label cells whose members are NOT neighbor-aligned, so
    // the ivf probe itself tops out at 0.275 here; ivfpq (16-codeword
    // PQ inside the probed fifth of the corpus) measures 0.125,
    // deterministic — assert it doesn't regress.
    val exact = Similarity.bruteforceTopK(spark, sf)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ivfpq recall@5 = $recall%.3f (ivf probe upper bound 0.275)")
    assert(recall >= 0.1, f"recall collapsed: $recall%.3f")
  }

  test("trained PQ codebooks beat the sample codebook's recall at the " +
    "same code budget, and the gate verdicts hold") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // exact L2 ranking — the statistic ADC approximates
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, v) => acc + v)
    val w = Window.partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))
    val exact = emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("d", sq(col("q_emb"), col("embedding")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val rTrained = recallOf(Similarity.pqTrainedTopK(spark, sf))
    // the QUERY-BLIND sample at the same code budget — pqTopK's own
    // codebook contains the query vectors (their neighbors encode to
    // the query's codeword with near-zero ADC distance), an advantage
    // no real index build has, so it is not the fair baseline here
    val exploded = Similarity.pqSubvectors(emb, 4, 16)
    val blind = exploded
      .filter(col("vec_id") >= Similarity.NumQueries &&
        col("vec_id") < Similarity.NumQueries + 16)
      .select(col("j"), (col("vec_id") - Similarity.NumQueries)
        .cast("int").as("c"), col("sv").as("cw"))
    val rBlind = recallOf(Similarity.pqAdcTopK(exploded, blind, 5, 4, None))
    info(f"PQ recall@5: trained $rTrained%.3f vs query-blind sample $rBlind%.3f")
    assert(rTrained >= rBlind,
      f"training lost recall: $rTrained%.3f < $rBlind%.3f")
    val gate = Similarity.pqTrainedGate(spark, sf).collect()
    assert(gate.length == 1)
    assert(gate(0).getAs[Boolean]("trained_ok"))
    assert(gate(0).getAs[Boolean]("trained_ge_sample"))
  }

  test("trained IVF×PQ: identical candidate sets, trained codebook wins, " +
    "verdicts hold with margin") {
    import org.apache.spark.sql.functions._
    // the raw stats behind the gate: hits over 64 queries × k=5
    val st = Similarity.ivfpqTrainedStats(spark, sf).collect()
    assert(st.length == 1)
    val (nq, tHits, sHits) = (st(0).getAs[Long]("n_queries"),
      st(0).getAs[Long]("t_hits"), st(0).getAs[Long]("s_hits"))
    assert(nq == 64L)
    info(s"ivfpq trained=$tHits vs blind-sample=$sHits hits over ${nq * 5} slots")
    // the coarse side is shared, so the comparison isolates the PQ
    // codebook: training must not lose, and the floor must clear with
    // headroom (measured 57 vs 28 at sf0.001 — many flips wide)
    assert(tHits >= sHits)
    assert(tHits.toDouble >= 2 * 0.03 * nq * 5,
      s"floor margin collapsed: $tHits hits")
    val gate = Similarity.ivfpqTrainedGate(spark, sf).collect()
    assert(gate.length == 1)
    assert(gate(0).getAs[Boolean]("trained_ok"))
    assert(gate(0).getAs[Boolean]("trained_ge_sample"))
  }
}
