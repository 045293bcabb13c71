package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.{Sink, Tables}

/** Document deduplication family for a training-data pipeline.
  *
  * Scale posture: none of these is O(n²). Every near-dup variant blocks
  * candidates first — shingle equality, LSH bands, or hamming bands —
  * so the pairwise verify only touches rows that already share a bucket.
  * The bucket tables are (bucket_key, doc_id) shuffles that scale
  * linearly with corpus size; the verify join is bounded by bucket
  * occupancy, which the band/shingle width controls.
  *
  * Caching policy: the `.cache()` calls in this family are DELIBERATE
  * cross-query substrate sharing, not leaks — the CacheManager dedupes
  * by canonical plan, so `minhashPairs` built for `dedup_minhash` is
  * reused by `dedup_clusters` / `dedup_report` / `dedup_apply` /
  * `dedup_detector_overlap` in the same session ("Asked to cache
  * already cached data" in the logs is a REUSE HIT). Converting these
  * to `localCheckpoint` was measured 3× slower across the full query
  * surface (round 5) because every consumer rebuilt the substrate.
  * Only per-call-unique frames (the two-phase prefix-sum internals)
  * use Stabilize — localCheckpoint by default, or reliable checkpoint
  * files via spark.graft.reliableCheckpointDir — where no cross-query
  * reuse exists to lose.
  */
object Dedup {

  /** Word-trigram shingles as (doc_id, shingle) pairs WITH duplicates —
    * no shuffle; min-based signatures are unaffected by repeats.
    */
  def shinglesRaw(docs: DataFrame, n: Int = 3): DataFrame = {
    // Materialize the token array as a column BEFORE the shingle
    // lambda: referencing the tokenizer expression inside the lambda
    // would re-run the regexp once per shingle index (no common
    // subexpression elimination across higher-order functions) — a 10×
    // slowdown measured at sf0.1.
    val toks = col("toks")
    // sequence(a, b) is descending when a > b, so guard short docs with
    // an explicit empty index list instead.
    val idx = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(array().cast("array<int>"))
    val sh = transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    docs
      .select(col("doc_id"), TextFunctions.words(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(sh).as("shingle"))
  }

  /** Distinct (doc_id, shingle) pairs — the set-semantics substrate the
    * Jaccard math needs (one corpus-wide dedup shuffle).
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shinglesRaw(docs, n).distinct()

  /** Exact dedup: md5 over normalized text, one map-side-combinable
    * aggregation. keep_id = min(doc_id) is the survivor-selection rule.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    exactOf(Tables.load(spark, dir, "documents"))

  /** Frame-parameterized twin of [[exact]] — the composed pipeline
    * gate runs it over stage survivors instead of the raw corpus.
    */
  def exactOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(TextFunctions.normText(col("text")).cast("binary")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("fp"))

  /** Default document-frequency cap for the pairwise shingle join.
    * The self-join emits sum(df²) rows, so one stop-phrase shingle in m
    * docs costs m² join rows — quadratic in the hottest key. Capping df
    * (the CCNet convention: ubiquitous shingles carry no near-dup
    * signal) keeps pair volume linear in corpus size; the uncapped
    * exact formulation remains available via maxDf = None, and
    * minhash/OPH LSH is the scale path when even capped pair volume is
    * too large.
    */
  val MaxShingleDf = 50

  /** N-gram Jaccard near-dup pairs. Blocking = the shingle-equality join
    * itself (only docs sharing ≥1 trigram ever meet); intersection
    * counted per pair, union from per-doc cardinalities. One shuffle on
    * shingle, one on the pair key.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
      threshold: Double = 0.4,
      maxDf: Option[Int] = Some(MaxShingleDf)): DataFrame = {
    // Spread: the shingle+md5 kernel is the cost (profiled 1.46 s on
    // ONE task at sf0.1 — single-row-group scan); no-op at scale.
    val docs = Spread(Tables.load(spark, dir, "documents"), col("doc_id"))
    // Set semantics per doc need no data movement: array_distinct on
    // the in-row shingle array replaces the corpus-wide distinct
    // shuffle, so the FIRST shuffle in the whole plan is the pairwise
    // self-join. Shingles collapse to 60-bit md5-derived ids in their
    // own projection AFTER the Generate (expressions under a generator
    // run interpreted), so the self-join moves (long, long) rows
    // instead of ~25-byte strings. DuckDB replays the identical hash,
    // keeping the oracle bit-for-bit (widen to the full 128-bit md5 as
    // two longs if a corpus outgrows 60 bits).
    val toks = col("toks")
    val idx = when(size(toks) >= 3, sequence(lit(0), size(toks) - 3))
      .otherwise(array().cast("array<int>"))
    val shArr = transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(3))))
    val hashed = docs
      .select(col("doc_id"),
        TextFunctions.words(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(array_distinct(shArr)).as("shingle"))
      .select(col("doc_id"), md5Bits(col("shingle"), 1, 15).as("h"))
    val sh = maxDf.fold(hashed) { df =>
      val hot = hashed.groupBy(col("h"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > df)
        .select(col("h"))
      hashed.join(hot, Seq("h"), "left_anti")
    }.cache()
    // Count-based verify: every co-shingle pair IS a candidate here
    // (no LSH pre-filter), so the pair set is large and map-side
    // partial aggregation of join rows (count per pair) beats
    // materializing per-pair shingle sets — the set+array_intersect
    // formulation only wins when candidates are sparse (see
    // minhashPairs).
    val card = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("h"))
    val b = sh.select(col("doc_id").as("id_b"), col("h"))
    val inter = a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(card.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(card.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val MinhashK = 32
  val MinhashBands = 8 // 4 rows per band

  /** Cross-engine hash: an integer from a hex substring of md5. DuckDB
    * computes the identical value via
    * `CAST(concat('0x', substr(md5(s), start, len)) AS BIGINT)`, which
    * is what makes the LSH pipelines oracle-checkable — the banding is
    * a pure function of these hashes, so an independent engine can
    * replay it bit-for-bit. 7 hex chars = 28 bits, small enough that
    * the double-hashing combination below never overflows a long.
    */
  def md5Bits(c: Column, start: Int, len: Int): Column =
    conv(substring(md5(c.cast("binary")), start, len), 16, 10).cast("long")

  /** MinHash signatures via double hashing: two independent 28-bit
    * hashes per shingle (one md5, two substrings), then
    * sig_i = min(h1 + i·h2) — the standard affine family. One
    * aggregation produces all K components (no K passes over the
    * corpus, no K string-hash evaluations per shingle).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesFromShingles(shingles(docs))

  def signaturesFromShingles(sh: DataFrame): DataFrame =
    signaturesFromDigests(
      sh.select(col("doc_id"), md5(col("shingle").cast("binary")).as("m")))

  /** Signatures from pre-computed md5 hex digests (`m`) — lets a caller
    * hash each shingle occurrence ONCE and feed both the signature
    * build (chars 1-7, 8-14) and the verify-set hash (chars 1-15).
    */
  def signaturesFromDigests(digests: DataFrame): DataFrame =
    signaturesFromHashes(digests
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 7), 16, 10).cast("long").as("h1"),
        conv(substring(col("m"), 8, 7), 16, 10).cast("long").as("h2")))

  /** Signatures from pre-split 28-bit hash pair columns (h1, h2). */
  def signaturesFromHashes(hashed: DataFrame): DataFrame = {
    val sigCols = (0 until MinhashK).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"sig_$i"))
    hashed.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Band bucket keys from a signature frame: band_j = md5 over the
    * band index + its signature components (index baked into the hash
    * so the bucket key is ONE column). Shared by the self-join pair
    * search, the persisted incremental index, and its probe; DuckDB
    * replays the same concatenation.
    */
  private[graft] def bandHashArray: Column = {
    val rowsPerBand = MinhashK / MinhashBands
    array((0 until MinhashBands).map { bIdx =>
      val comps = (0 until rowsPerBand)
        .map(r => col(s"sig_${bIdx * rowsPerBand + r}").cast("string"))
      md5(concat_ws("_", (lit(bIdx.toString) +: comps): _*).cast("binary"))
    }: _*)
  }

  /** Write the PERSISTED MinHash index of a corpus: the band-bucket
    * table (doc_id, band_hash) and the K-component signature table —
    * both linear in the corpus, both columnar-small (the raw text is
    * NOT in the index). This is the artifact an incremental pipeline
    * keeps between runs so tomorrow's batch dedups against all of
    * history without re-reading history's text.
    */
  def writeMinhashIndex(docs: DataFrame, path: String): Unit = {
    // raw shingles, never the corpus-wide distinct: min-signatures
    // ignore duplicates, and the distinct's 150M-string sort was
    // measured spilling a 47 GB disk dry at the 100x soak (the same
    // trap minhashPairs documents)
    //
    // The sigs PARQUET ARTIFACT is the materialization (round 17,
    // guide §5): bands derive from reading it back, so the corpus-
    // wide signature build lands on disk ONCE — the previous
    // DISK_ONLY persist stored the same rows a second time just to
    // feed the band projection.
    signaturesFromShingles(shinglesRaw(docs))
      .write.mode("overwrite").parquet(s"$path/sigs.parquet")
    Tables.read(docs.sparkSession, s"$path/sigs.parquet")
      .select(col("doc_id"), explode(bandHashArray).as("band_hash"))
      .write.mode("overwrite").parquet(s"$path/bands.parquet")
  }

  /** Probe a persisted MinHash index with a NEW batch: the batch's
    * band buckets equi-join the index's (the blocking key IS the
    * shuffle key — never batch × history), and candidates verify by
    * SIGNATURE AGREEMENT (fraction of equal components estimates
    * Jaccard unbiasedly) against the index's signature table — so the
    * historical corpus contributes O(K) longs per document and its
    * raw text is never re-read. Threshold semantics: emit pairs whose
    * estimated Jaccard reaches `threshold`.
    */
  def probeMinhashIndex(fresh: DataFrame, idxBands: DataFrame,
      idxSigs: DataFrame, threshold: Double,
      maxWitnesses: Int = 64,
      freshSigsPre: Option[DataFrame] = None): DataFrame = {
    // Scale discipline, learned at the 100x soak: a twin-heavy corpus
    // makes the raw candidate frontier |batch|·|twins| (262M band-join
    // rows measured — aggregating that frontier per PAIR spilled a
    // 47 GB disk dry, first through a corpus-wide shingle distinct,
    // then through the pair-keyed aggregation itself, whose ~57M keys
    // defeat map-side combine). A dedup decision needs a WITNESS, not
    // the whole frontier, so the band-join output feeds the
    // bounded-heap graft_topk keyed by NEW doc directly: |batch| keys,
    // so partial aggregation collapses the 262M rows to one bounded
    // heap per batch doc before anything shuffles. The heap holds the
    // 8·maxWitnesses smallest old ids WITH band-duplicate slots (a
    // pair can arrive via all 8 bands), which guarantees the
    // maxWitnesses smallest DISTINCT ids survive; the array-side
    // distinct + slice is O(heap) per doc. Everything after the band
    // join is ≤ maxWitnesses·|batch| rows by construction. The batch's
    // signatures feed two consumers (bands + the verify join);
    // Stabilized (round 17) so the batch is shingled ONCE per probe —
    // every caller executes the probe eagerly (the incremental gate
    // lands it to parquet, the streaming loops consume it per batch),
    // so the lazy-plan property the old recompute preserved bought
    // nothing.
    require(maxWitnesses >= 1, "need at least one witness per doc")
    val heapK = math.min(8L * maxWitnesses, Int.MaxValue.toLong).toInt
    // freshSigsPre: a caller that knows the batch BEFORE the index is
    // ready (the incremental gates build history first) hands in the
    // already-Stabilized signature frame it prefetched concurrently
    // with the index build (guide §2.6) — the same frame this line
    // would compute serially.
    val freshSigs = freshSigsPre.getOrElse(
      Stabilize(signaturesFromShingles(shinglesRaw(fresh))))
    val freshBands = freshSigs
      .select(col("doc_id"), explode(bandHashArray).as("band_hash"))
    val cand = freshBands
      .join(idxBands.withColumnRenamed("doc_id", "old_id"), Seq("band_hash"))
      .groupBy(col("doc_id").as("new_id"))
      .agg(graft.functions.TopKFunctions.topK(
        struct((-col("old_id")).as("__neg")), heapK).as("__top"))
      .select(col("new_id"), explode(slice(array_sort(array_distinct(
        transform(col("__top"), t => -t.getField("__neg")))),
        1, maxWitnesses)).as("old_id"))
    val agree = (0 until MinhashK)
      .map(i => (col(s"n.sig_$i") === col(s"o.sig_$i")).cast("int"))
      .reduce(_ + _)
    cand
      .join(freshSigs.alias("n"), col("new_id") === col("n.doc_id"))
      .join(idxSigs.alias("o"), col("old_id") === col("o.doc_id"))
      .select(col("new_id"), col("old_id"),
        round(agree.cast("double") / MinhashK, 6).as("est_jac"))
      .filter(col("est_jac") >= threshold)
  }

  /** Index maintenance: after a batch is probed (and its dups
    * dropped), its SURVIVORS' bands + signatures append into the same
    * index so the NEXT batch dedups against them too — the loop that
    * makes the index an accumulating history rather than a one-shot
    * artifact. Append-mode parquet: no rewrite of history, the index
    * grows linearly in survivors.
    */
  def appendToMinhashIndex(docs: DataFrame, path: String): Unit = {
    val sigs = signaturesFromShingles(shinglesRaw(docs))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    sigs.write.mode("append").parquet(s"$path/sigs.parquet")
    sigs.select(col("doc_id"), explode(bandHashArray).as("band_hash"))
      .write.mode("append").parquet(s"$path/bands.parquet")
    sigs.unpersist(): Unit
  }

  /** Compact the persisted MinHash index (`writeMinhashIndex` layout).
    *
    * Why this exists: `appendToMinhashIndex` is append-only — under
    * at-least-once delivery a replayed batch appends its rows AGAIN,
    * and every append lands its own small files. Duplicate rows are
    * semantically harmless (duplicate candidate votes for the same
    * witness, same verdict) but operationally not free: the probe's
    * band equi-join fans out per duplicate band row, the witness heap
    * burns slots on duplicate old_ids, and a duplicated signature row
    * DUPLICATES probe output pairs. A rolling ingest appending daily
    * therefore sees probe cost climb with accumulated duplicates and
    * file count — this pass resets both, and the probe's results are
    * IDENTICAL before/after (spec-pinned): signatures dedupe to one
    * row per doc (append rows for a doc_id are identical by
    * construction — same text, same hash family), bands to distinct
    * (doc_id, band_hash), re-clustered on band_hash so a bucket's
    * rows co-locate in row groups.
    *
    * @param dropBelowDocId optional retention age-out: drop index
    *   entries for docs with doc_id < the watermark (for corpora
    *   whose doc_id encodes ingest order, this expires history that
    *   should no longer suppress new documents)
    * @return per-artifact (files before, files after)
    */
  def compactMinhashIndex(spark: SparkSession, path: String,
      dropBelowDocId: Option[Long] = None,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    val keep = dropBelowDocId
      .map(w => col("doc_id") >= w).getOrElse(lit(true))
    Map(
      "sigs" -> Sink.rewrite(spark, s"$path/sigs.parquet",
        targetFileBytes)(_.filter(keep).dropDuplicates("doc_id")),
      "bands" -> Sink.rewrite(spark, s"$path/bands.parquet",
        targetFileBytes)(
        _.filter(keep).distinct().repartition(col("band_hash"))))
  }

  /** Streaming twin of the incremental loop: every microbatch probes
    * the persisted index for near-dups of ACCUMULATED HISTORY, lands
    * only the survivors (keyed parquet upsert — replayed batches
    * absorb idempotently), and appends the survivors' bands +
    * signatures into the same index, so the NEXT microbatch dedups
    * against them too. Semantics per batch: near-dup suppression is
    * batch-vs-history (a batch's internal near-dups both survive until
    * one is history — run `exact` upstream if within-batch exact dups
    * matter); index appends are NOT idempotent under replay, which is
    * harmless to verdicts (duplicate index rows produce duplicate
    * candidate votes for the same witness, same verdict) and bounded
    * by at-least-once delivery. State lives entirely in the two
    * parquet artifacts — no streaming state store, so the probe's
    * memory is the same bounded witness-heap shape as batch.
    *
    * Index lifecycle: every `compactEvery` batches the accumulated
    * appends are compacted ([[compactMinhashIndex]] — dedupe + small-
    * file heal, probe-identical by spec), so a week-two rolling
    * ingest's probe cost stays flat instead of climbing with replayed
    * appends and per-batch files. 0 disables.
    */
  def dedupStreamAgainstIndex(docs: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, threshold: Double = 0.5,
      maxWitnesses: Int = 64, compactEvery: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!batch.isEmpty) graft.GraftSession.withObjectAggHeadroom(spark) {
          val pairs = probeMinhashIndex(batch,
            Tables.read(spark, s"$indexPath/bands.parquet"),
            Tables.read(spark, s"$indexPath/sigs.parquet"),
            threshold, maxWitnesses)
          val dupIds = pairs.select(col("new_id").as("doc_id")).distinct()
          // Stabilize, not persist (round 16): the index append fires
          // CacheManager.recacheByPath on the index path, which evicts
          // any cached plan reading it and recomputes against the
          // appended files — the doc's own signature then self-pairs
          // and empties a persisted survivor frame. This single-append
          // loop only dodged that by artifact order (candidates come
          // from bands.parquet, written after sigs.parquet); lineage
          // truncation makes the frame a value and removes the
          // order dependence (Pipeline.corpusStream scaladoc).
          val survivors = Stabilize(
            batch.join(dupIds, Seq("doc_id"), "left_anti"))
          Sink.dedupUpsert(spark, outPath, survivors,
            keys = Seq("doc_id"), versionCol = "doc_id")
          appendToMinhashIndex(survivors, indexPath)
          if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
            compactMinhashIndex(spark, indexPath): Unit
        }
      }
      .start()

  /** `dedup_incremental` gate surface: the cross-run dedup loop end to
    * end — history (¾ of the corpus) builds the persisted index once;
    * the new batch (doc_id % 4 = 0) probes it. The oracle recomputes
    * both sides from the raw documents (the md5 hash family replays
    * bit-for-bit), so a candidate the probe misses, an extra pair, or
    * a signature mismatch all hash-fail.
    */
  def dedupIncremental(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    probeGate(spark, dir, "dedup_incremental", threshold) {
      (docs, idx) => writeMinhashIndex(docs.filter(col("doc_id") % 4 =!= 0), idx)
    }

  /** The incremental gates' shared shape: `build` lays down the index
    * at `idx` from the spread corpus, then the new slice
    * (doc_id % 4 = 0) probes it and the landed probe rows are the gate.
    *
    * The slice's signature frame depends only on the slice, never on
    * the index — it is prefetched on a branch concurrently with the
    * build (guide §2.6), and the probe consumes the identical
    * Stabilized frame it would otherwise compute serially. The probe's
    * aggregate state is |batch| witness-capped heaps — provably
    * bounded — so it runs under scoped ObjectHashAggregate headroom
    * (125k keys/task fell back to a 44 GB sort-spill under the 128-key
    * default at the 100x soak). The conf is read at physical planning,
    * so the probe lands eagerly inside the scope and the gate returns
    * the landed rows.
    */
  private def probeGate(spark: SparkSession, dir: String, name: String,
      threshold: Double)(
      build: (DataFrame, String) => Unit): DataFrame = {
    val docs = Spread(Tables.load(spark, dir, "documents"), col("doc_id"))
    val idx = graft.Scratch.dir(name)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    graft.GraftSession.branches(spark) { br =>
      val batchSigs = br.fork(s"$name: batch sigs (prefetch)")(
        Stabilize(signaturesFromShingles(shinglesRaw(batch))))
      build(docs, idx)
      val freshSigs = batchSigs()
      graft.GraftSession.withObjectAggHeadroom(spark) {
        probeMinhashIndex(batch,
          Tables.read(spark, s"$idx/bands.parquet"),
          Tables.read(spark, s"$idx/sigs.parquet"), threshold,
          freshSigsPre = Some(freshSigs))
          .write.mode("overwrite").parquet(s"$idx/probe.parquet")
      }
    }
    Tables.read(spark, s"$idx/probe.parquet")
      .orderBy(col("new_id"), col("old_id"))
  }

  /** `dedup_compact_probe` gate surface: compaction inside the oracle
    * loop — history (doc_id % 4 = 1) builds the index, the SAME batch
    * (% 4 = 2) appends TWICE (an at-least-once replay), the index
    * compacts, and the new slice (% 4 = 0) probes. The oracle replays
    * the probe from the raw documents against history ∪ batch counted
    * ONCE — which is only what the probe sees if compaction actually
    * collapsed the replayed append (duplicate signature rows would
    * duplicate output pairs and burn witness slots, hash-failing the
    * gate). This is the DuckDB-gated twin of
    * DedupIndexLifecycleSpec's result-identity specs.
    */
  def dedupCompactProbe(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    probeGate(spark, dir, "dedup_compact_probe", threshold) {
      (docs, idx) =>
        writeMinhashIndex(docs.filter(col("doc_id") % 4 === 1), idx)
        appendToMinhashIndex(docs.filter(col("doc_id") % 4 === 2), idx)
        appendToMinhashIndex(docs.filter(col("doc_id") % 4 === 2), idx)
        compactMinhashIndex(spark, idx): Unit
    }

  /** `dedup_compact_grams` gate surface: the gram index's exact
    * re-aggregation contract under replayed appends — history
    * (% 4 = 1) writes, the same batch (% 4 = 2) appends twice,
    * compaction re-aggregates, and the gate emits the INDEX ITSELF.
    * The oracle recomputes every gram over history ∪ batch with the
    * batch's occurrences counted twice (that is what two appends
    * recorded) and the first-doc attribution as the global min — so a
    * lost occurrence count, a surviving duplicate row, or a dropped
    * gram all hash-fail.
    */
  def gramCompactIndex(spark: SparkSession, dir: String,
      window: Int = 10): DataFrame = {
    val docs = Spread(Tables.load(spark, dir, "documents"), col("doc_id"))
    val idx = graft.Scratch.dir("gram_index_gate")
    writeGramIndex(docs.filter(col("doc_id") % 4 === 1), idx, window)
    appendToGramIndex(docs.filter(col("doc_id") % 4 === 2), idx, window)
    appendToGramIndex(docs.filter(col("doc_id") % 4 === 2), idx, window)
    compactGramIndex(spark, idx)
    Tables.read(spark, s"$idx/grams.parquet").orderBy(col("h"))
  }

  /** MinHash + LSH banding: band_j = hash of 4 consecutive signature
    * components; docs sharing any (band_idx, band_hash) bucket become
    * candidates; candidates are verified with exact trigram Jaccard.
    * The band table is (band, doc) — linear in corpus size — and the
    * verify join touches only bucketed pairs.
    */
  def minhashPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    minhashPairsOf(Tables.load(spark, dir, "documents"), threshold)

  /** Frame-parameterized twin of [[minhashPairs]] (pipeline stages). */
  def minhashPairsOf(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    // One RAW shingle pass, hashed ONCE to its md5 digest — the cached
    // (doc, digest) table feeds both the signature build (two 28-bit
    // substrings) and the verify-set hash (60-bit substring), so the
    // corpus is tokenized and digested exactly once. No corpus-wide
    // distinct: min-signatures ignore duplicates, and the verify stage
    // dedups AFTER candidate pruning (a shuffle over candidate docs
    // only, not the whole corpus).
    val sh = shinglesRaw(docs)
      .select(col("doc_id"), md5(col("shingle").cast("binary")).as("m"))
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 7), 16, 10).cast("long").as("h1"),
        conv(substring(col("m"), 8, 7), 16, 10).cast("long").as("h2"),
        conv(substring(col("m"), 1, 15), 16, 10).cast("long").as("h"))
      .cache()
    val sigs = signaturesFromHashes(sh)
    val rowsPerBand = MinhashK / MinhashBands
    // Band key = md5 over the band index + its signature components
    // (band index baked into the hash, so the bucket key is a single
    // column). Same string concatenation on the DuckDB side.
    val bandArr = array((0 until MinhashBands).map { bIdx =>
      val comps = (0 until rowsPerBand)
        .map(r => col(s"sig_${bIdx * rowsPerBand + r}").cast("string"))
      md5(concat_ws("_", (lit(bIdx.toString) +: comps): _*).cast("binary"))
    }: _*)
    // The band table is referenced twice (both sides of the self-join)
    // and the candidate set three times (id pruning + semi-join) —
    // cache both; they are tiny relative to the corpus (8 rows/doc and
    // the near-dup pair set respectively).
    val bands = sigs.select(col("doc_id"), explode(bandArr).as("band_hash"))
      .cache()
    val cand = bands.alias("x")
      .join(bands.alias("y"), Seq("band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
      .cache()
    // Exact-Jaccard verify per candidate PAIR via per-doc SORTED sets
    // of 60-bit shingle hashes and the native graft_jaccard merge
    // expression — work is O(|candidate pairs| · doc length), not the
    // Σ df² of a shingle-equality self-join (a hot shingle shared by m
    // candidate docs would otherwise fan out m² join rows). The single
    // merge pass replaces array_intersect's per-call hash-set build;
    // sorted long arrays also shuffle ~3× smaller than string sets.
    // collect_set dedups per doc, so the raw shingle table never pays
    // a corpus-wide distinct either. Set rows are bounded by document
    // length — fine for documents, re-block by length first if a
    // corpus has pathological outliers. DuckDB replays the same 60-bit
    // hash, so the oracle comparison stays bit-for-bit.
    verifyJaccard(sh, cand, threshold)
  }

  /** Exact-Jaccard verify shared by the LSH variants: per-doc SORTED
    * 60-bit shingle-hash sets for the candidate docs only, merged by
    * the native `graft_jaccard` expression — O(|candidates|·doclen),
    * never the Σdf² of a shingle self-join.
    */
  /** `sh` carries pre-hashed 60-bit shingle ids: (doc_id, h: long).
    * Long rows cache AND shuffle ~3x smaller than the md5 hex strings
    * the callers used to carry — at the 1000x soak the billion-row
    * hex-string shingle cache starved the execution pool
    * (UNABLE_TO_ACQUIRE_MEMORY in the band aggregate).
    */
  private def verifyJaccard(sh: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    val candIds = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val sets = sh.join(candIds, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(sort_array(collect_set(col("h"))).as("shs"))
      .cache()
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .withColumn("jaccard",
        graft.functions.JaccardFunctions.jaccardSorted(col("shs_a"), col("shs_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val OphBins = 16
  val OphBands = 4 // 4 bins per band

  /** One-permutation-hashing MinHash (`dedup_minhash_oph`, Li et al.
    * 2012): ONE 60-bit hash per shingle — the hash doubles as bin
    * selector (h mod 16) and rank value (min per bin) — versus the
    * K=32 affine combinations classic MinHash evaluates per shingle.
    * At corpus scale the signature build drops from K·|shingles| to
    * |shingles| hash-ops, the big cost of the dedup pass. Empty bins
    * take a 2^60 sentinel (the simplest densification; biases sparse
    * docs toward fewer candidate hits — acceptable for near-dup
    * detection where docs are long), and bands that are ENTIRELY
    * sentinel are excluded from banding — a constant band value would
    * otherwise bucket every sparse doc together and go quadratic in
    * the short-doc count (measured by the 100x soak; see SCALING.md).
    * Banding = 4 bands × 4 consecutive bins, same md5 bucket keys,
    * same exact-Jaccard verify as `dedup_minhash`; DuckDB replays
    * every stage.
    */
  def ophPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sh = shinglesRaw(docs)
      .select(col("doc_id"),
        conv(substring(md5(col("shingle").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .cache()
    val binsPerBand = OphBins / OphBands
    // One (doc_id, band) aggregate with binsPerBand conditional mins —
    // a plain codegen'd, SPILLABLE HashAggregate. The former shape
    // (per-bin min → 16-bin spine left-join → collect_list+array_sort
    // per band) went through ObjectHashAggregate, whose object state
    // over doc×band groups threw AGGREGATE_OUT_OF_MEMORY at the 1000x
    // soak (5M docs). Band-hash BYTES are unchanged: the sorted-bin
    // concat equals the r-ordered component concat.
    //
    // The all-empty-band exclusion (a constant band value would bucket
    // every sparse doc into one universal quadratic collision cell —
    // measured at the 100x soak as 316x growth per 10x; see
    // SCALING.md) is now FREE: a (doc_id, band) group only exists when
    // at least one shingle hashed into that band, so entirely-sentinel
    // bands never materialize; bins empty WITHIN a live band coalesce
    // to the 2^60 sentinel per component, as before.
    val keyed = sh
      .withColumn("bin", pmod(col("h"), lit(OphBins.toLong)))
      .withColumn("band", expr(s"bin DIV $binsPerBand"))
      .withColumn("r", pmod(col("bin"), lit(binsPerBand.toLong)))
    val sentinel = lit(1L << 60)
    val comps = (0 until binsPerBand).map(r =>
      coalesce(min(when(col("r") === r, col("h"))), sentinel).as(s"s_$r"))
    val bands = keyed.groupBy(col("doc_id"), col("band"))
      .agg(comps.head, comps.tail: _*)
      .select(col("doc_id"),
        md5(concat_ws("_", col("band").cast("string") +:
            (0 until binsPerBand).map(r => col(s"s_$r").cast("string")): _*)
          .cast("binary")).as("band_hash"))
      .cache()
    val cand = bands.alias("x")
      .join(bands.alias("y"), Seq("band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    verifyJaccard(sh, cand, threshold)
  }

  /** `dedup_lsh_sweep`: candidate-pair volume for several LSH banding
    * configs over the SAME signature table — the s-curve tuning run
    * that picks (bands, rows/band) before committing a corpus-wide
    * dedup pass: more bands → lower per-band match bar → more
    * candidates (recall ↑, verify cost ↑). One signature build is
    * shared (cached) across configs; each config costs one linear
    * band-table self-join, so the sweep is |configs| × the banding
    * stage, not × the whole pipeline. Oracle replays every config.
    */
  def lshSweep(spark: SparkSession, dir: String,
      bandConfigs: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sigs = minhashSignatures(docs).cache()
    val frames = bandConfigs.map { b =>
      val rpb = MinhashK / b
      val bandArr = array((0 until b).map { bIdx =>
        val comps = (0 until rpb)
          .map(r => col(s"sig_${bIdx * rpb + r}").cast("string"))
        md5(concat_ws("_", (lit(bIdx.toString) +: comps): _*).cast("binary"))
      }: _*)
      val bands = sigs.select(col("doc_id"), explode(bandArr).as("band_hash"))
      bands.alias("x").join(bands.alias("y"), Seq("band_hash"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
        .agg(count(lit(1)).as("n_candidates"))
        .select(lit(b).as("n_bands"), lit(rpb).as("rows_per_band"),
          col("n_candidates"))
    }
    frames.reduce(_ unionByName _).orderBy(col("n_bands"))
  }

  /** Whole-pipeline dedup report (`dedup_report`): one frame with the
    * headline count of every dedup method — the summary a data team
    * reads after the nightly dedup pass (how much of the corpus is
    * duplicated, by which detector). Each branch is the corresponding
    * verified operator; the union evaluates as ONE job, so shared
    * cached subplans (the digested shingle table, the band tables) are
    * computed once per method and nothing lands on the driver.
    */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    def one(method: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(method).as("method"), col("n"))
    Seq(
      one("exact_dup_groups", exact(spark, dir).filter(col("n_dups") > 1)),
      one("minhash_pairs", minhashPairs(spark, dir)),
      one("ngram_pairs", ngramJaccard(spark, dir)),
      one("simhash_pairs", simhashPairs(spark, dir)),
      one("span_hashes", spanDups(spark, dir)))
      .reduce(_.unionByName(_))
      .orderBy(col("method"))
  }

  val SimhashBits = 60 // 60 md5-derived bits: stays positive in a long

  /** 60-bit SimHash over word unigrams: per bit, sum +1/-1 by whether
    * the word's 60-bit md5-derived hash has that bit set; the signature
    * bit is the sign. All 60 bit-sums come out of ONE aggregation over
    * the exploded token table (duplicates kept — term frequency
    * weights). Documents with zero alphanumeric tokens get the defined
    * signature 0 (left join back to the full doc list) instead of
    * silently vanishing — they are mutual exact-dups under the other
    * dedup paths and must surface here too.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextFunctions.words(lower(col("text")))).as("w"))
      .withColumn("h", md5Bits(col("w"), 1, 15))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b_$j")
    }
    val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until SimhashBits).map { j =>
      when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    docs.select(col("doc_id"))
      .join(agg.select(col("doc_id"), sim.as("simhash")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  /** SimHash near-dup pairs: block on 15-bit bands (pigeonhole: a pair
    * within hamming distance ≤ 3 of 60 bits can mismatch at most 3 of
    * the 4 bands, so it must agree on at least one), then verify with
    * bit_count(xor).
    */
  def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sigs = simhashSignatures(docs)
    val bandArr = array((0 until 4).map { j =>
      shiftright(col("simhash"), j * 15).bitwiseAND(lit(0x7FFFL))
    }: _*)
    // Cache: the self-join would otherwise recompute the 64-column
    // bit-sum aggregation for both sides.
    val bands = sigs.select(col("doc_id"), col("simhash"),
      posexplode(bandArr).as(Seq("band_idx", "band_val")))
      .cache()
    val pairs = bands.alias("x")
      .join(bands.alias("y"), Seq("band_idx", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Connected-component clustering of the MinHash near-dup pair graph
    * — the survivorship step that turns pairwise "A dups B" edges into
    * one canonical id per duplicate cluster (cluster_id = min doc_id in
    * the component; `keep` marks the canonical doc).
    *
    * The components come from [[minLabels]]: near-dup clusters are
    * shallow, so this is a few shuffles in practice, each linear in
    * |edges|, and a component deeper than [[MaxLabelRounds]] fails the
    * call instead of returning wrong cluster ids. Only nodes that
    * appear in an edge iterate; the rest of the corpus joins back as
    * singletons at the end.
    */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupClustersOf(Tables.load(spark, dir, "documents"))

  /** Frame-parameterized twin of [[nearDupClusters]] (pipeline stages). */
  def nearDupClustersOf(corpus: DataFrame): DataFrame = {
    val docs = corpus.select(col("doc_id"))
    val pairs = minhashPairsOf(corpus).select(col("id_a"), col("id_b"))
    val labels = minLabels(pairs.toDF("src", "dst"))
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    docs
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", (col("cluster_id") === col("doc_id")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Rounds [[minLabels]] may take: a component converges in its
    * propagation distance plus one round, so this admits components up
    * to 19 hops from their minimum node.
    */
  val MaxLabelRounds = 20

  /** Connected components by distributed min-label propagation — the
    * one copy under `dedup_clusters` (doc ids) and
    * `q_entity_resolution` (names). `pairs` holds edges `(src, dst)`,
    * each undirected edge in either direction; the result is
    * `(node, lbl)` for every node in an edge, lbl the minimum node of
    * its component.
    *
    * Each round every node adopts the minimum label among itself and
    * its neighbors, so a component converges in O(diameter) rounds of
    * one co-partitioned join + aggregate. The oracles are full
    * transitive closures, so a component that has not converged
    * within [[MaxLabelRounds]] fails the call loudly rather than
    * return wrong labels.
    */
  private[graft] def minLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    // localCheckpoint (not cache) per round: an iterative algorithm's
    // lineage otherwise doubles every pass — by round k the plan holds
    // 2^k joins and the driver chokes on analysis long before the
    // executors see data. Checkpointing truncates to the materialized
    // blocks; on a cluster this is the same pattern with a reliable
    // checkpoint dir.
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).transform(Stabilize.apply)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < MaxLabelRounds) {
      val nbrMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
      // The convergence count rides the checkpoint materialization as
      // an observed metric (round 17, guide §1.2): the per-round
      // `filter(...).count()` was a second action — its own job + plan
      // — over rows the checkpoint had just materialized. checkpoint()
      // is a tracked action (withAction), so the Observation resolves
      // when the round lands; count(when(...)) is 0 (never null) on an
      // empty round.
      val obs = new org.apache.spark.sql.Observation()
      val joined = labels
        .join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(col("node"), col("lbl"), col("nbr_lbl"))
        .observe(obs, count(when(col("nbr_lbl") < col("lbl"), lit(1)))
          .as("n_changed"))
        .transform(Stabilize.apply)
      changed = obs.get("n_changed").asInstanceOf[Long]
      labels = joined.select(col("node"),
        least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
      rounds += 1
    }
    require(changed == 0,
      s"min-label propagation did not converge in $MaxLabelRounds rounds")
    labels
  }

  /** `dedup_apply`: the cleaned corpus itself — what the pipeline
    * actually ships downstream after detection. A document survives iff
    * it is (a) the min-doc_id representative of its exact-content group
    * AND (b) the min-doc_id survivor of its minhash near-dup cluster.
    * Two LEFT SEMI joins against survivor-id sets (each far smaller
    * than the corpus); the corpus itself is scanned once and never
    * shuffled — survivor sets broadcast at any realistic dup rate.
    * Emits (doc_id, n_chars) as the verifiable projection.
    */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val exactKeep = exact(spark, dir).select(col("keep_id").as("doc_id"))
    val clusterKeep = nearDupClusters(spark, dir)
      .filter(col("keep") === 1L).select(col("doc_id"))
    docs.join(broadcast(exactKeep), Seq("doc_id"), "left_semi")
      .join(broadcast(clusterKeep), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Duplicated token-window spans (`dedup_span`): the token-window
    * re-expression of exact substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better") —
    * every W-token window (stride 1) is hashed, and a hash occurring
    * in more than one document marks a copied span, the unit a
    * substring-dedup pass would cut. Window volume is one row per
    * token (linear); the aggregation is one shuffle on the window
    * hash with map-side combine. 60-bit md5-derived hashes keep the
    * oracle replayable; at corpus scale widen to the full digest.
    */
  def spanDups(spark: SparkSession, dir: String, window: Int = 10): DataFrame = {
    val docs = Spread(Tables.load(spark, dir, "documents"), col("doc_id"))
    // md5 AFTER the posexplode: an expensive expression under a
    // Generate runs interpreted; in the following projection it stays
    // in whole-stage codegen (same fix as text_contamination).
    docs
      .select(col("doc_id"), TextFunctions.words(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        posexplode(TextFunctions.tokenWindows(col("toks"), window)).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"), md5Bits(col("s"), 1, 15).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        min(col("pos")).cast("long").as("min_pos"))
      .filter(col("n_docs") > 1)
      .select(col("h"), col("n_docs"), col("n_occ"), col("first_doc"), col("min_pos"))
      .orderBy(col("h"))
  }

  /** Maximal duplicated spans (`dedup_substring`) — the span-merge half
    * of exact-substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): where `spanDups` reports each
    * duplicated fixed-width window in isolation, this merges runs of
    * CONSECUTIVE duplicated window positions inside a document into one
    * maximal span — the unit a scrubber would actually cut. A suffix
    * array is the single-machine tool for this; the distributed
    * re-expression is (1) hash every `window`-token sliding window,
    * (2) keep hashes seen in >1 document (the duplicated-gram set —
    * the groupBy is the blocking step, hashes shuffle, text never
    * does), (3) gaps-and-islands per document over the surviving
    * positions (`pos - row_number` constant within a consecutive run —
    * the q_streaks shape; the window is partitioned by doc_id so its
    * state is bounded by document length, never corpus size), and
    * (4) keep merged spans covering at least `minTokens` tokens.
    * A doc_id-ordered span list is exactly what a downstream scrub pass
    * zips against the corpus.
    *
    * Reference scope: the reference dedups rows by primary key
    * (reference.py:1-12); sub-document span dedup is part of the
    * training-data generalization this engine adds.
    */
  def substringSpans(spark: SparkSession, dir: String, window: Int = 10,
                     minTokens: Int = 15): DataFrame =
    substringSpansOf(Tables.load(spark, dir, "documents"), window, minTokens)

  /** @param persistOcc hash-once mode: persist the (doc, pos, hash)
    *   occurrence frame DISK_ONLY so the dup-detection groupBy and the
    *   join probe share one tokenize+hash pass instead of recomputing
    *   the lineage twice. The 1000x soak measured the recompute at
    *   ~2x dedup_span's wall for exactly this reason — but the persist
    *   is ~35 GB at that scale, which on a single host collides with
    *   the very shuffle spill it avoids (docs/SCALING.md round 13);
    *   where it fits, the knob is worth 1.65x cold at 100x, 1.19x at
    *   10x (`Soak substring`, identical span multiset both ways).
    *   `None` (the DEFAULT since round 14) routes size-aware via
    *   [[persistOccAuto]]: persist when the estimated occurrence
    *   bytes fit comfortably in free scratch, recompute when they
    *   would collide with the shuffle spill — the
    *   `q_weighted_median_auto` router discipline applied here.
    *   `Some(b)` forces a side. The persisted blocks stay registered
    *   for the session (CacheManager dedupes re-registration; LRU
    *   evicts) — same policy as the family's other deliberate caches.
    */
  def substringSpansOf(docs: DataFrame, window: Int = 10,
                       minTokens: Int = 15,
                       persistOcc: Option[Boolean] = None): DataFrame = {
    val occRaw = windowHashes(docs, window)
    val occ =
      if (persistOcc.getOrElse(persistOccAuto(docs)))
        occRaw.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else occRaw
    // Corpus-duplicated grams: >1 distinct document. Map-side partial
    // aggregation collapses each document's repeats before the shuffle.
    val dupH = occ.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("h"))
    islandSpans(occ.join(dupH, "h"), window, minTokens)
  }

  /** Size-aware default for the hash-once knob: persist the occurrence
    * lineage only when its estimated serialized size fits in HALF the
    * free scratch space (headroom for the shuffle spill it shares the
    * disk with).
    *
    * The estimate is row-anchored, not byte-anchored: occurrence rows
    * ≈ total tokens = exact corpus row count (parquet answers count()
    * from footers — no data pages) × tokens-per-doc measured on a
    * small deterministic sample (one ~2k-row scan), at ~24 serialized
    * bytes per persisted row (measured: 35 GB / 1.45 B rows at the
    * 1000x soak, docs/SCALING.md round 13 — the formula reproduces
    * that 35 GB within 1%). A compressed-bytes × compression-factor
    * estimate was tried first and missed 5x on compressible text
    * (the 1000x corpus packs 9 GB of text into 536 MB of parquet —
    * far past the session's generic 4.0 factor), which is exactly the
    * class of corpus this operator runs on.
    *
    * Two live gates, both must pass:
    *
    *  1. '''Disk headroom''': est < free scratch / 2 (room for the
    *     shuffle spill the persist shares the disk with). On the
    *     round-13 disk state (47 GB free) this alone routed the 1000x
    *     corpus' 35 GB to recompute.
    *  2. '''Page-cache residency''': est < MemAvailable / 4. The
    *     persist only wins when the second consumer's read-back never
    *     touches the platter — i.e. while the DISK_ONLY blocks are
    *     still page-cached. Measured both ways at 1000x (round 14,
    *     77 GB scratch free, so gate 1 passed): the 35 GB persist ran
    *     788 s where the r13 recompute ran 663 s — the write+read
    *     round-trip of a frame too big to stay cached costs more than
    *     re-running the tokenize+hash lineage. At 100x the 3.5 GB
    *     frame stays resident and persist wins 1.26-1.65x
    *     (`Soak substring`). The quarter-of-available bound keeps
    *     the frame cached through the groupBy that runs between the
    *     two consumers.
    *
    * Routing on this host: persist at 10x/100x, recompute at 1000x —
    * the measured-optimal side at every scale, for the measured
    * reason, and both inputs move with the machine instead of baking
    * in one host's disk state.
    */
  private[graft] def persistOccAuto(docs: DataFrame,
      sampleRows: Int = 2048): Boolean = {
    val nDocs = docs.count()
    if (nDocs == 0) return true // trivially fits
    val avgRow = docs
      .limit(sampleRows)
      .select(size(TextFunctions.words(lower(col("text")))).cast("double").as("n"))
      .agg(avg(col("n"))).head()
    val avgTokens = if (avgRow.isNullAt(0)) 0.0 else avgRow.getDouble(0)
    val estPersistBytes = (nDocs.toDouble * avgTokens * 24).toLong
    estPersistBytes < graft.Scratch.freeBytes() / 2 &&
      estPersistBytes < memAvailableBytes() / 4
  }

  /** Linux MemAvailable (bytes) — the kernel's own estimate of memory
    * usable without swapping, which is what page-cache residency of a
    * fresh persist actually depends on. Falls back to the JVM heap
    * bound if /proc is unreadable (non-Linux dev machines).
    */
  private def memAvailableBytes(): Long =
    try {
      val meminfo = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/meminfo")))
      meminfo.linesIterator
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toLong * 1024L }
        .getOrElse(Runtime.getRuntime.maxMemory())
    } catch { case _: Exception => Runtime.getRuntime.maxMemory() }

  /** (doc_id, pos, h) sliding-window hash occurrences — the shared
    * front of the substring family. Same codegen placement as
    * spanDups: md5 AFTER the posexplode so the hash runs in a
    * whole-stage-codegen projection, not under the interpreted
    * Generate.
    */
  private def windowHashes(docs: DataFrame, window: Int): DataFrame =
    docs
      .select(col("doc_id"), TextFunctions.words(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        posexplode(TextFunctions.tokenWindows(col("toks"), window)).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"), md5Bits(col("s"), 1, 15).as("h"))

  /** Gaps-and-islands merge of duplicated window positions into maximal
    * spans ≥ minTokens — shared by the batch and incremental probes.
    * The window is partitioned by doc_id, so its state is bounded by
    * document length, never corpus size.
    */
  private def islandSpans(occ: DataFrame, window: Int,
                          minTokens: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    occ
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(window)).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Persist a substring-dedup gram index: the DISTINCT window hashes
    * of the historical corpus (one long per distinct gram, plus
    * occurrence count and first-doc attribution). Linear and text-free
    * — the distinct is a hash-only groupBy (longs shuffle, the string
    * windows never do), so growing history grows the index linearly
    * and the raw text is never re-read by later probes.
    */
  def writeGramIndex(docs: DataFrame, path: String, window: Int = 10): Unit =
    windowHashes(docs, window)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"), min(col("doc_id")).as("first_doc"))
      .write.mode("overwrite").parquet(s"$path/grams.parquet")

  /** Accumulate a new batch into the gram index. Appends are NOT
    * deduplicated against existing entries (the probe is a left-semi
    * join, so duplicate hash rows never duplicate its output); a
    * periodic compaction can re-aggregate the files if occurrence
    * counts need to stay exact.
    */
  def appendToGramIndex(docs: DataFrame, path: String,
                        window: Int = 10): Unit =
    windowHashes(docs, window)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"), min(col("doc_id")).as("first_doc"))
      .write.mode("append").parquet(s"$path/grams.parquet")

  /** Compact the persisted gram index: re-aggregate the per-append
    * partial rows back to ONE row per distinct gram hash (summed
    * occurrence count, min first-doc attribution — exactly what a
    * single `writeGramIndex` over the concatenated corpus would have
    * produced) and heal the per-append small files, re-clustered on
    * the gram hash. The probe is a left-semi join on `h`, so its
    * result is IDENTICAL before/after (same distinct-h set; spec-
    * pinned); what compaction buys is the probe-side scan cost, which
    * otherwise climbs linearly with appended duplicates. No age-out:
    * old grams are precisely what a decontamination probe must keep
    * matching.
    */
  def compactGramIndex(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] =
    Map("grams" -> Sink.rewrite(spark, s"$path/grams.parquet",
      targetFileBytes)(
      _.groupBy(col("h"))
        .agg(sum(col("n_occ")).as("n_occ"),
          min(col("first_doc")).as("first_doc"))
        .repartition(col("h"))))

  /** Probe the gram index with a NEW batch (`dedup_substring_incremental`
    * runs this end to end): maximal spans of batch documents whose
    * every window already exists in HISTORY — the incremental form of
    * exact-substring dedup, and the decontamination primitive for a
    * rolling ingest (is tomorrow's crawl quoting yesterday's corpus?).
    * The batch's window hashes LEFT SEMI join the index (the gram hash
    * is the blocking key AND the shuffle key; history contributes one
    * long per distinct gram, its text never re-read), then the same
    * per-doc island merge as the batch operator. Batch-internal
    * duplication is deliberately NOT flagged — run `substringSpans`
    * within the batch for that.
    */
  def probeGramIndex(fresh: DataFrame, idxGrams: DataFrame,
                     window: Int = 10, minTokens: Int = 15): DataFrame =
    islandSpans(
      windowHashes(fresh, window)
        .join(idxGrams.select(col("h")), Seq("h"), "left_semi"),
      window, minTokens)

  /** Streaming twin of the substring scrubber: every microbatch probes
    * the persisted gram index for spans already in ACCUMULATED HISTORY,
    * cuts them (`applySpans`), lands the scrubbed documents (keyed
    * parquet upsert — replayed batches absorb idempotently), and
    * appends the SURVIVING text's grams into the index, so the next
    * microbatch dedups against exactly what was kept (scrubbed spans
    * are not re-indexed — quoting an already-removed passage must
    * still be caught by the ORIGINAL history entry, which stays).
    * Same state discipline as dedupStreamAgainstIndex: everything
    * lives in the parquet artifacts, no streaming state store, and
    * index appends are at-least-once (duplicate gram rows are
    * harmless under the probe's left-semi join). Every `compactEvery`
    * batches the per-append partial rows re-aggregate to one row per
    * gram ([[compactGramIndex]], probe-identical by spec); 0 disables.
    *
    * Family-specific default (round 15): the quiet-window `Soak index`
    * re-measures showed the gram probe flat through ~100 small files
    * and only mildly climbing after (2.2× at 328 files over a 40-
    * append run — a hash-only LEFT SEMI probe has no witness heap and
    * no per-duplicate fan-out; the residual climb is listing/footer
    * overhead), where the minhash probe's curve is steeper AND turns
    * into witness-heap recall loss past ~35 replayed appends. Gram
    * compaction is therefore a STORAGE pass (328 files → 2, counts
    * re-aggregated exactly) whose latency value is a bounded ~3×
    * worst case on a ~1 s probe at this default — it runs 4× less
    * often than the minhash family's; dial down to 32 for
    * latency-sensitive deployments. (docs/SCALING.md round 15.)
    */
  def substringStreamAgainstIndex(docs: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, window: Int = 10,
      minTokens: Int = 15, compactEvery: Int = 128)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!batch.isEmpty) {
          val spans = probeGramIndex(batch,
            Tables.read(spark, s"$indexPath/grams.parquet"),
            window, minTokens)
          // Stabilize, not persist — see dedupStreamAgainstIndex: the
          // gram append's recacheByPath would otherwise evict this
          // frame and recompute it against an index that now holds the
          // batch's own grams (every window self-duplicated → the doc
          // scrubbed to nothing on any later read of the frame).
          val scrubbed = Stabilize(applySpans(batch, spans))
          Sink.dedupUpsert(spark, outPath, scrubbed,
            keys = Seq("doc_id"), versionCol = "doc_id")
          appendToGramIndex(
            scrubbed.select(col("doc_id"), col("scrub").as("text")),
            indexPath, window)
          if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
            compactGramIndex(spark, indexPath): Unit
        }
      }
      .start()

  /** Gate surface: history (doc_id % 4 ≠ 0) builds the persisted gram
    * index once; the new batch (doc_id % 4 = 0) probes it. The oracle
    * recomputes both sides from the raw documents.
    */
  def substringIncremental(spark: SparkSession, dir: String,
      window: Int = 10, minTokens: Int = 15): DataFrame = {
    val docs = Spread(Tables.load(spark, dir, "documents"), col("doc_id"))
    val idx = graft.Scratch.dir("gram_index")
    writeGramIndex(docs.filter(col("doc_id") % 4 =!= 0), idx, window)
    probeGramIndex(docs.filter(col("doc_id") % 4 === 0),
      Tables.read(spark, s"$idx/grams.parquet"), window, minTokens)
  }

  /** Span scrub (`dedup_substring_apply`) — the apply half of
    * exact-substring dedup: cut every maximal duplicated span
    * `substringSpans` found out of its document and report the scrubbed
    * corpus (token counts plus a content hash of the surviving text, so
    * the gate pins the reconstruction byte-for-byte, not just counts).
    *
    * Scale shape: the token explode is linear; removing span-covered
    * positions is a LEFT ANTI join keyed equi on doc_id with the range
    * predicate as the join residual — span lists are per-doc small, so
    * the anti join is bounded by document length; the order-sensitive
    * text rebuild is collect_list(struct(pos, tok)) + array_sort inside
    * one combinable aggregate (per-doc state, never a corpus sort).
    * Fully-duplicated documents (every token covered) survive as empty
    * scrubbed text via the final left join from the corpus spine.
    */
  def substringScrub(spark: SparkSession, dir: String, window: Int = 10,
                     minTokens: Int = 15): DataFrame =
    substringScrubOf(Tables.load(spark, dir, "documents"), window, minTokens)

  def substringScrubOf(docs: DataFrame, window: Int = 10,
                       minTokens: Int = 15): DataFrame =
    applySpans(docs, substringSpansOf(docs, window, minTokens))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"), col("n_removed"),
        md5Bits(col("scrub"), 1, 15).as("scrub_h"))
      .orderBy(col("doc_id"))

  /** Cut the given (doc_id, span_start, span_tokens) spans out of their
    * documents; returns (doc_id, n_tokens, n_kept, n_removed, scrub)
    * with `scrub` the surviving text — shared by the batch gate (which
    * hashes it) and the streaming scrubber (which lands it).
    */
  private[graft] def applySpans(docs: DataFrame, spanDf: DataFrame): DataFrame = {
    val spans = spanDf
      .select(col("doc_id").as("s_doc"), col("span_start"), col("span_tokens"))
    val toks = docs
      .select(col("doc_id"), TextFunctions.words(lower(col("text"))).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = toks.join(spans,
      toks("doc_id") === spans("s_doc") &&
        col("pos") >= col("span_start") &&
        col("pos") < col("span_start") + col("span_tokens"),
      "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")), " ").as("scrub"))
    docs.select(col("doc_id"),
        size(TextFunctions.words(lower(col("text")))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("scrub"), lit("")).as("scrub"))
  }

  /** Asymmetric containment pairs (`dedup_containment`): fraction of
    * one document's distinct 8-token windows that appear in another —
    * containment(A→B) = |g(A)∩g(B)| / |g(A)| — the quote-inclusion
    * detector Jaccard misses (a short doc fully embedded in a long one
    * has high containment but low Jaccard, so MinHash LSH never pairs
    * them). Blocking is the gram equi-join itself: only pairs sharing
    * at least one 8-gram meet, plus a document-frequency cap (`maxDf`):
    * a window shared verbatim by more than `maxDf` docs is boilerplate,
    * and every such gram contributes df^2/2 candidate pairs — the ONE
    * quadratic term in this operator, so it is excluded from the pair
    * join (true quote-inclusion grams have df ~ 2 and are untouched).
    * `n_g` denominators stay the UNCAPPED per-doc gram cardinality, so
    * containment scores for surviving pairs are exact. Same gram
    * pipeline as text_contamination: per-doc array_distinct before the
    * explode, md5 after it.
    *
    * Scale shape: `n_g` is computed as `size(array_distinct(...))` on
    * the un-exploded gram array and rides along with every gram row, so
    * the pair aggregation needs NO join back to a corpus-sized per-doc
    * sizes table. (The earlier form joined the pair table against a
    * `sizes` frame and left strategy choice to AQE; at the 100x soak
    * scale AQE tried to BROADCAST the corpus-scaled pair table and
    * OOMed — neither side of that join is broadcast-sized at scale, so
    * the join had to go, not get a hint.)
    */
  def containmentPairs(spark: SparkSession, dir: String,
      window: Int = 8, tau: Double = 0.2, maxDf: Int = 1000): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // Gram ids come from hashedTokenWindows (xxhash64 of the token
    // slice): h is internal to this operator — only distinct-gram
    // COUNTS surface (n_g, n_shared) — so identity does not need the
    // md5 ids other detectors expose, and skipping the window-string
    // build + md5→hex→conv chain cut the 100x gram-build from 37 s to
    // single digits.
    // toks materializes in its OWN projection first (the boilerplate
    // lesson, TextFunctions.scala: inlined under the transform, the
    // regex tokenizer re-runs once per WINDOW — interpreted lambdas
    // get no CSE).
    val g = docs
      .select(col("doc_id"),
        TextFunctions.words(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        array_distinct(
          TextFunctions.hashedTokenWindows(col("toks"), window)).as("grams"))
      .select(col("doc_id"), size(col("grams")).as("n_g"),
        explode(col("grams")).as("h"))
      .cache()
    // The df cap comes from a count-over-window on h, NOT a
    // groupBy+semi-join: the window's hash-exchange + sort on h is
    // exactly the distribution the pair self-join needs, so the join's
    // two branches land on ReusedExchange and the whole scan costs ONE
    // shuffle-sort of the gram table instead of three (df aggregate +
    // two SMJ sorts). The pair join is pinned to sort-merge with an
    // explicit hint — size ESTIMATES cannot be trusted here: the
    // frames sit behind a cache + window + narrow projection, which
    // shrinks the planner's sizeInBytes under the broadcast threshold;
    // at the 100x soak scale the static planner broadcast the
    // corpus-scaled pair-join sides into an 8 GB driver and died. A
    // hint is the contract the estimator can't override.
    val kept = g
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("__df") <= maxDf).drop("__df")
    // Self-join via ALIASES, renaming only after the join: both join
    // branches are then the identical subplan (alias-only differences
    // canonicalize away), so ReuseExchange collapses them onto one
    // physical shuffle-sort of the gram table.
    val a = kept.alias("a")
    val b = kept.alias("b")
    a.join(b.hint("merge"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n_g").as("n_a"), col("b.n_g").as("n_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_a").cast("double"), 6)
          .as("contain_a"),
        round(col("n_shared").cast("double") / col("n_b").cast("double"), 6)
          .as("contain_b"))
      .filter(col("contain_a") >= tau || col("contain_b") >= tau)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cell-bounded label-blocked candidate pairs (id_a, id_b, emb_a,
    * emb_b): cells at or under `maxCell` get the exact all-pairs
    * self-join (pair volume ≤ Σ min(cell, maxCell)²); OVERSIZED cells —
    * a skewed quantizer cluster that would otherwise go quadratic at
    * corpus scale — are sub-blocked through the data-independent
    * random-hyperplane bands of `sim_rp_lsh` (candidates = any shared
    * (band, value) bucket WITHIN the cell), so a giant cell costs a
    * linear band table plus bucket-bounded self-joins instead of
    * cell². The exact-verify contract is unchanged: every emitted
    * candidate still carries both embeddings for the caller's true
    * cosine filter, so banding can only MISS low-probability pairs in
    * oversized cells, never admit a false positive anywhere. The miss
    * rate is MEASURED, not argued: DedupSpec's recall test plants
    * cosine-0.99 pairs in a forced-oversized cell and holds the 4x8-bit
    * banding to >= 0.9 recall at tau 0.8; and every run reports
    * n_cells_banded / max_cell / n_cells through observe() (below), so
    * production knows the moment a grown corpus enters the approximate
    * regime.
    */
  /** Monotone id so each cellBoundedPairs call site gets a unique
    * observe() metric name (duplicate names in one plan — e.g. a sweep
    * unioning several pair scans — would fail analysis).
    */
  /** Cell-size boundary between the exact all-pairs path and the
    * RP-LSH banded (approximate) path in cellBoundedPairs. Verify
    * asserts the GATE corpus never crosses it: the DuckDB oracle
    * replays exact label-blocked pairs, so a banded cell at gate
    * scale would silently desynchronize engines instead of failing
    * loudly.
    */
  val DefaultMaxCell = 4096

  private val cellObsId = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def cellBoundedPairs(emb: DataFrame, maxCell: Int): DataFrame = {
    // observe() makes the exact/approximate boundary VISIBLE per run:
    // n_cells_banded > 0 means some cells took the RP-LSH recall
    // (approximate) path, so a production job can alarm when a grown
    // corpus silently crosses from exact into banded territory. The
    // metrics surface through QueryExecutionListener /
    // SparkListenerSQLExecutionEnd as "cell_bounded_pairs_<n>".
    val sizes = emb.groupBy(col("label")).agg(count(lit(1)).as("__n_cell"))
      .observe(s"cell_bounded_pairs_${cellObsId.incrementAndGet()}",
        sum(when(col("__n_cell") > maxCell, 1L).otherwise(0L))
          .as("n_cells_banded"),
        max(col("__n_cell")).as("max_cell"),
        count(lit(1)).as("n_cells"))
    // #labels = #quantizer cells — bounded, broadcastable at any corpus size
    val tagged = emb.join(broadcast(sizes), Seq("label"))
    def sides(df: DataFrame) = (
      df.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("emb_a")),
      df.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("emb_b")))
    val small = tagged.filter(col("__n_cell") <= maxCell).drop("__n_cell")
    val big = tagged.filter(col("__n_cell") > maxCell).drop("__n_cell")
    val (sa, sb) = sides(small)
    val smallPairs = sa.join(sb, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("emb_a"), col("emb_b"))
    val bands = Similarity
      .rpBandValues(big.select(col("vec_id"), col("embedding")), nb = 4, bw = 8)
      .join(big.select(col("vec_id"), col("label")), Seq("vec_id"))
    val cand = bands.alias("x")
      .join(bands.alias("y"), Seq("label", "band_idx", "band_val"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val (ba, bb) = sides(big)
    val bigPairs = cand
      .join(ba.drop("label"), Seq("id_a"))
      .join(bb.drop("label"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("emb_a"), col("emb_b"))
    smallPairs.unionByName(bigPairs)
  }

  /** Embedding-cosine near-dup pairs, label-blocked (IVF-style: the
    * label is the coarse quantizer cell; only same-cell pairs are
    * scored) and CELL-BOUNDED — see `cellBoundedPairs` for the
    * oversized-cell RP-LSH fallback. Cosine runs in the native codegen
    * expression.
    */
  def embeddingPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.3, maxCell: Int = DefaultMaxCell): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    cellBoundedPairs(emb, maxCell)
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup-style semantic survivorship (`dedup_semantic`, Abbas et
    * al. 2023): within each label cell (the stand-in for a k-means
    * cluster), a vector is DROPPED iff some lower-id vector in the same
    * cell is ≥ τ cosine-similar — a deterministic keep-lowest rule that
    * needs no transitive closure (unlike graph survivorship, the
    * dominance test is per-pair). The pair scan is label-blocked AND
    * cell-bounded (`cellBoundedPairs`: all-pairs under maxCell, RP-LSH
    * sub-blocking above it), so candidate volume is
    * Σ min(cell, maxCell)·cell-ish, never corpus²; survivors come from
    * one LEFT ANTI against the distinct dominated-id set, so the
    * embedding table itself is never shuffled by the pair join.
    * Reference analog: the keep-one-per-PK rule of reference.py:1-12
    * lifted to semantic keys.
    */
  def semanticSurvivors(spark: SparkSession, dir: String,
      threshold: Double = 0.3, maxCell: Int = DefaultMaxCell): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val dominated = cellBoundedPairs(emb, maxCell)
      .filter(graft.functions.VectorFunctions.cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    emb.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** Semantic-dedup threshold sweep (`dedup_semantic_sweep`): survivor
    * counts at several cosine thresholds from ONE pair scan — the
    * tuning run before committing a SemDeDup pass, the cosine twin of
    * `dedup_lsh_sweep`'s banding sweep. The label-blocked pair table
    * (with its cosine) is computed once and cached; each threshold is
    * then a filter + distinct + count over the cached pairs, so the
    * sweep costs |thresholds| × a candidate-table pass, not × the
    * pairwise join. Deterministic (threshold compares on identical
    * IEEE cosines), so fully oracle-checked unlike the approximate
    * sweeps.
    */
  /** Detector agreement audit (`dedup_detector_overlap`): pairwise
    * overlap of the near-dup PAIR sets found by the three text
    * detectors (classic MinHash, OPH MinHash, n-gram Jaccard at the
    * same 0.7 threshold) — the QA step before trusting any single
    * detector at corpus scale: low overlap means the banding knobs
    * disagree about the same corpus. Pair sets are tiny relative to
    * the corpus, so the audit is three full-outer joins over
    * (id_a, id_b) keys; counts integral.
    */
  def detectorOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mh = minhashPairs(spark, dir).select(col("id_a"), col("id_b")).cache()
    val oph = ophPairs(spark, dir).select(col("id_a"), col("id_b")).cache()
    // maxDf = None: the audit's ground-truth detector is EXACT n-gram
    // Jaccard — capping df here would fold the cap's recall loss into
    // the very overlap numbers meant to measure the LSH detectors.
    val ng = ngramJaccard(spark, dir, threshold = 0.7, maxDf = None)
      .select(col("id_a"), col("id_b")).cache()
    def stats(name: String, a: DataFrame, b: DataFrame) = {
      val inter = a.intersect(b).count()
      Seq((name, a.count(), b.count(), inter,
        a.count() + b.count() - inter))
    }
    (stats("minhash_vs_oph", mh, oph) ++
      stats("minhash_vs_ngram", mh, ng) ++
      stats("oph_vs_ngram", oph, ng))
      .toDF("pairing", "n_left", "n_right", "n_both", "n_union")
      .orderBy(col("pairing"))
  }

  def semanticSweep(spark: SparkSession, dir: String,
      thresholds: Seq[Double] = Seq(0.2, 0.3, 0.4),
      maxCell: Int = DefaultMaxCell): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val nTotal = emb.count()
    // localCheckpoint, not cache: the pair table is scanned once per
    // threshold and must not stay pinned after the sweep returns.
    val pairs = cellBoundedPairs(emb, maxCell)
      .select(col("id_b"),
        graft.functions.VectorFunctions.cosine(col("emb_a"), col("emb_b")).as("cos"))
      .transform(Stabilize.apply)
    import spark.implicits._
    val frames = thresholds.map { t =>
      pairs.filter(col("cos") >= t)
        .select(col("id_b")).distinct()
        .agg(count(lit(1)).as("n_dropped"))
        .select(lit(t).as("threshold"), col("n_dropped"))
    }
    frames.reduce(_.unionByName(_))
      .select(col("threshold"), col("n_dropped"),
        (lit(nTotal) - col("n_dropped")).as("n_survivors"))
      .orderBy(col("threshold"))
  }
}
