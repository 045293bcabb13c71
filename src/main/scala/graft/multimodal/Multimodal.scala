package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal column plumbing: media payloads as opaque binary columns
  * with a typed metadata struct, decoded per-partition in batches.
  *
  * The real decode libs (image/audio codecs) are not in this container,
  * so `FakeDecoder` derives deterministic pseudo-metadata from the raw
  * bytes — the Spark-side shape (binary column + struct schema +
  * mapPartitions batching + partition sizing) is the real, tested part,
  * and a production deployment swaps the `Decoder` only.
  *
  * Scale posture: payloads never pass through a shuffle — decode is a
  * map stage pinned to the scan; only the small extracted-metadata
  * frame moves on. Partition sizing for 100 TB of media comes from
  * `spark.sql.files.maxPartitionBytes`, not row counts.
  */
final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])

final case class DecodedMeta(
    width: Int, height: Int, n_frames: Int, sample_rate: Int)

trait Decoder extends Serializable {
  def decode(kind: String, payload: Array[Byte]): DecodedMeta
}

/** Deterministic stand-in for the codec: metadata is a pure function of
  * the payload bytes, so tests and reruns agree bit-for-bit.
  */
object FakeDecoder extends Decoder {
  def decode(kind: String, payload: Array[Byte]): DecodedMeta = {
    val b0 = if (payload.nonEmpty) payload(0) & 0xFF else 0
    val b1 = if (payload.length > 1) payload(1) & 0xFF else 0
    kind match {
      case "image" => DecodedMeta(16 + b0 % 64, 16 + b1 % 64, 1, 0)
      case "audio" => DecodedMeta(0, 0, 0, 8000 + (b0 % 5) * 8000)
      case _       => DecodedMeta(16 + b0 % 64, 16 + b1 % 64, 1 + b1 % 240, 0)
    }
  }
}

trait Embedder extends Serializable {
  def embed(kind: String, payload: Array[Byte]): Array[Double]
}

/** Deterministic stand-in for a vision/audio encoder: an 8-dim vector
  * read cyclically from the payload bytes, shifted to stay strictly
  * positive so every vector has nonzero norm. A production deployment
  * swaps in the real model; the plumbing (binary in, fixed-dim
  * array<double> out, per-partition batching) is what's tested.
  */
object FakeEmbedder extends Embedder {
  val Dim = 8
  def embed(kind: String, payload: Array[Byte]): Array[Double] =
    Array.tabulate(Dim) { i =>
      if (payload.isEmpty) 1.0
      else (payload(i % payload.length) & 0xFF) + 1.0
    }
}

object Multimodal {

  /** Build the media table from documents: payload = utf8 bytes of the
    * text (deterministic, so md5/length are oracle-checkable in SQL),
    * kind cycles by doc_id.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("payload"))

  /** Payload statistics straight off the binary column — byte length and
    * checksum, no decode needed (`mm_payload_stats`, oracle-checked).
    */
  def payloadStats(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("checksum"))
      .orderBy(col("doc_id"))

  /** Decode stage: per-partition batched decode of the payload column
    * into the typed metadata struct. `mapPartitions` keeps one decoder
    * instance per partition (codecs are expensive to init) and streams
    * the iterator — no partition-wide materialization.
    */
  /** Frame sampling: k evenly-spaced frame indices per video payload
    * (`frame_idx_i = floor(i·n_frames/k)`) — the decode-stage fan-out a
    * video pipeline feeds to per-frame feature extraction. The sample
    * plan is columnar (sequence + explode) on top of the decoded
    * metadata; payload bytes never leave the scan stage.
    */
  def frameSample(spark: SparkSession, dir: String, k: Int = 4): DataFrame =
    decodeStats(spark, dir)
      .filter(col("kind") === "video")
      .withColumn("sample_i", explode(sequence(lit(0L), lit((k - 1).toLong))))
      .withColumn("frame_idx",
        floor(col("sample_i").cast("double") * col("n_frames").cast("double") /
          lit(k.toDouble)).cast("long"))
      .select(col("doc_id"), col("sample_i"), col("frame_idx"),
        col("n_frames").cast("long").as("n_frames"))
      .orderBy(col("doc_id"), col("sample_i"))

  /** `mm_audio_chunks`: the audio twin of frame sampling — treat each
    * audio payload as 16-bit mono PCM and fan it out to one row per
    * 1-second window (the unit an ASR/feature extractor consumes):
    * chunk start sample + chunk length, last chunk ragged. Pure
    * integer math on decoded metadata (floor divisions), so the
    * oracle replays it exactly; payload bytes stay in the scan stage.
    */
  def audioChunks(spark: SparkSession, dir: String): DataFrame = {
    val d = decodeStats(spark, dir).filter(col("kind") === "audio")
      .withColumn("n_samples", floor(col("n_bytes") / 2.0).cast("long"))
      .filter(col("n_samples") >= 1)
    val rate = col("sample_rate").cast("long")
    d.withColumn("n_chunks",
        floor((col("n_samples") + rate - 1L).cast("double") / rate).cast("long"))
      .withColumn("chunk_i", explode(sequence(lit(0L), col("n_chunks") - 1L)))
      .select(col("doc_id"), col("sample_rate"), col("chunk_i"),
        (col("chunk_i") * rate).as("start_sample"),
        least(rate, col("n_samples") - col("chunk_i") * rate).as("chunk_samples"))
      .orderBy(col("doc_id"), col("chunk_i"))
  }

  /** Embed stage: payload bytes → fixed-dim vector, one embedder per
    * partition (model init is expensive), payloads never shuffled —
    * only the small (doc_id, kind, 8-dim) frame leaves the scan stage.
    */
  def embedTable(spark: SparkSession, dir: String,
      embedder: Embedder = FakeEmbedder): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRow].mapPartitions { rows =>
      rows.map(r => (r.doc_id, r.kind, embedder.embed(r.kind, r.payload)))
    }.toDF("doc_id", "kind", "embedding")
  }

  /** `mm_embed_topk`: the multimodal→ANN composition end to end —
    * embed every payload, take the docs with doc_id ≡ 0 (mod 101) as
    * the query set, and return each query's cosine top-k among all
    * other media. The query side broadcasts (it is a tiny fraction of
    * the corpus); the corpus embedding frame is scanned once and never
    * shuffled before scoring — the same plan shape as
    * `sim_bruteforce_topk`, fed by the decode stage instead of a
    * pre-built embeddings table.
    */
  def embedTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val emb = embedTable(spark, dir)
    val q = emb.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("q_id"), col("embedding").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("doc_id").asc)
    emb.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("embedding"), col("q_emb")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("doc_id").as("nb_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** `mm_resize_stats`: resize planning for the visual modalities —
    * fit each image/video frame into a `box`×`box` square preserving
    * aspect ratio, and cost out the decoded output volume
    * (frames × out_w × out_h × 3 bytes). This is the sizing pass run
    * BEFORE committing a 100 TB corpus to a GPU preprocessing fleet;
    * the arithmetic stays in exact small-int double space (floor of
    * products ≤ 2^24) so every engine agrees bit-for-bit. The actual
    * pixel resample stays behind the Decoder seam like decode itself.
    */
  /** Modality dispatch report (`mm_modality_route`): one decode pass
    * routes every item to its modality's work estimator — image →
    * one RGB frame, video → frames × RGB frame, audio → 16-bit PCM —
    * and the per-modality rollup (item count, input bytes, estimated
    * decoded bytes) is what a scheduler uses to size the per-modality
    * processing fleets before launching them. The routing is a CASE
    * projection fused into the metadata scan; the rollup is one
    * 3-group aggregation — payloads themselves never move.
    */
  def modalityRoute(spark: SparkSession, dir: String): DataFrame = {
    val d = decodeStats(spark, dir)
    val estOut = when(col("kind") === "image",
        col("width").cast("long") * col("height").cast("long") * 3L)
      .when(col("kind") === "video",
        col("n_frames").cast("long") * col("width").cast("long") *
          col("height").cast("long") * 3L)
      .otherwise(floor(col("n_bytes") / 2.0).cast("long") * 2L)
    d.withColumn("est_out_bytes", estOut)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("in_bytes"),
        sum(col("est_out_bytes")).as("out_bytes"))
      .orderBy(col("kind"))
  }

  def resizePlan(spark: SparkSession, dir: String, box: Int = 224,
      decoder: Decoder = FakeDecoder): DataFrame = {
    val d = decodeStats(spark, dir, decoder).filter(col("kind") =!= "audio")
    val mx = greatest(col("width"), col("height")).cast("double")
    def fit(c: org.apache.spark.sql.Column) =
      floor(c.cast("double") * box / mx).cast("int")
    d.select(col("doc_id"), col("kind"), col("width"), col("height"),
        fit(col("width")).as("out_w"), fit(col("height")).as("out_h"),
        (col("n_frames").cast("long") * fit(col("width")).cast("long") *
          fit(col("height")).cast("long") * 3L).as("out_bytes"))
      .orderBy(col("doc_id"))
  }

  def decodeStats(spark: SparkSession, dir: String,
      decoder: Decoder = FakeDecoder): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, dir).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val m = decoder.decode(r.kind, r.payload)
        (r.doc_id, r.kind, r.payload.length.toLong, m)
      }
    }.toDF("doc_id", "kind", "n_bytes", "meta")
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.n_frames").as("n_frames"), col("meta.sample_rate").as("sample_rate"))
      .orderBy(col("doc_id"))
  }

  /** Modality-aware shard packing (`mm_shard_pack`): assign each media
    * item to a fixed-size output shard per modality (the WebDataset/
    * tar-shard layout step before training). shard_id = cumulative
    * byte offset within (kind, doc_id order) ÷ shardBytes, the running
    * total being `Prefix.runningSum` per kind — never a single-
    * partition window. The id-ordered offset rule is engine- and
    * layout-independent, so DuckDB replays it as a plain window cumsum.
    */
  def shardPack(spark: SparkSession, dir: String,
      shardBytes: Long = 4096L, numParts: Int = 8): DataFrame = {
    val m = mediaTable(spark, dir)
      .select(col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"))
    graft.operators.Prefix
      .runningSum(m, col("n_bytes"), "cum", Seq(col("doc_id")),
        partCols = Seq("kind"), numParts = numParts)
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        floor((col("cum") - col("n_bytes")).cast("double") / shardBytes)
          .cast("long").as("shard_id"))
      .orderBy(col("kind"), col("doc_id"))
  }

  /** Perceptual-hash near-dup pairs over image payloads
    * (`mm_phash_pairs`): a real pHash samples pixels after a DCT; the
    * deterministic stand-in samples 8 bytes at evenly-spaced payload
    * offsets (i·n DIV 8), quantized to their high nibble — the
    * stand-in for a real pHash's per-cell 1-bit threshold — the Spark-side shape (signature extraction
    * in the scan stage, band blocking, verify join) is the production
    * part, and only the `sig_i` extraction swaps for a codec-backed
    * hash. Blocking: the 8 samples split into 4 two-byte bands; a
    * candidate pair shares at least one band (pairs with ≤2 of 8
    * samples differing always survive unless the differing samples
    * land in distinct bands — approximate recall, like any LSH);
    * verify counts differing samples exactly and keeps pairs with ≤2. Pair
    * volume is bounded by band-bucket sizes, never O(n²); everything
    * is integral/string equality — bit-stable.
    */
  /** Scene-cut detection stand-in (`mm_scene_cuts`): the video
    * shot-boundary pass — sample k evenly-spaced frames per video
    * (the mm_frame_sample grid at k=8), probe each frame with a
    * deterministic byte read (payload byte at frame_idx mod n_bytes;
    * a real decoder's per-frame histogram distance swaps in behind
    * the same column), then flag a cut where the probe jumps by more
    * than the threshold versus the PREVIOUS sampled frame (lag window
    * per video — state is one probe value). Integral throughout;
    * byte-addressed so DuckDB replays the probe via hex(encode()).
    */
  def sceneCuts(spark: SparkSession, dir: String, k: Int = 8,
      threshold: Int = 64): DataFrame = {
    val hx = mediaTable(spark, dir).filter(col("kind") === "video")
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        length(col("payload")).cast("long").as("n_bytes"))
      .filter(col("n_bytes") >= 1L)
    val frames = decodeStats(spark, dir)
      .filter(col("kind") === "video")
      .withColumn("sample_i", explode(sequence(lit(0L), lit((k - 1).toLong))))
      .withColumn("frame_idx",
        floor(col("sample_i").cast("double") * col("n_frames").cast("double") /
          lit(k.toDouble)).cast("long"))
      .select(col("doc_id"), col("sample_i"), col("frame_idx"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("sample_i"))
    frames.join(hx, Seq("doc_id"))
      .withColumn("probe",
        conv(expr("substr(hx, CAST((frame_idx % n_bytes) * 2 AS INT) + 1, 2)"),
          16, 10).cast("long"))
      .withColumn("prev", lag(col("probe"), 1).over(w))
      .select(col("doc_id"), col("sample_i"), col("frame_idx"), col("probe"),
        when(col("prev").isNull, lit(0L))
          .otherwise((abs(col("probe") - col("prev")) > threshold).cast("long"))
          .as("is_cut"))
      .orderBy(col("doc_id"), col("sample_i"))
  }

  /** Per-chunk amplitude probe + silence flag (`mm_audio_energy`): the
    * VAD/silence-trim planning pass — each audio chunk from
    * `audioChunks` is scored by a deterministic amplitude probe (the
    * unsigned value of the chunk's first byte, addressed into the hex
    * payload exactly like mm_phash_pairs' samples; a real
    * energy/VAD model swaps in behind the same column) and flagged
    * silent under a threshold. The probe is byte-addressed so DuckDB
    * validates the distributed offset arithmetic bit-for-bit via
    * hex(encode(text)). Chunks and payloads join co-keyed on doc_id —
    * at scale the probe is extracted in the SCAN stage so payloads
    * never shuffle.
    */
  def audioEnergy(spark: SparkSession, dir: String, threshold: Int = 32): DataFrame = {
    val hx = mediaTable(spark, dir).filter(col("kind") === "audio")
      .select(col("doc_id"), hex(col("payload")).as("hx"))
    audioChunks(spark, dir)
      .join(hx, Seq("doc_id"))
      .withColumn("amp0",
        conv(expr("substr(hx, CAST(start_sample * 4 AS INT) + 1, 2)"), 16, 10)
          .cast("long"))
      .select(col("doc_id"), col("chunk_i"), col("chunk_samples"), col("amp0"),
        (col("amp0") < threshold).cast("long").as("is_silent"))
      .orderBy(col("doc_id"), col("chunk_i"))
  }

  def phashPairs(spark: SparkSession, dir: String, maxDiff: Int = 2): DataFrame = {
    val imgs = mediaTable(spark, dir).filter(col("kind") === "image")
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        length(col("payload")).cast("long").as("n"))
    // 8 sampled bytes as hex pairs; offsets are 0-based bytes → 1-based
    // hex chars. Integer division keeps the offsets engine-exact.
    val withSamples = (0 until 8).foldLeft(imgs) { (df, i) =>
      df.withColumn(s"s$i",
        expr(s"substr(hx, CAST(($i * n) DIV 8 AS INT) * 2 + 1, 1)"))
    }.drop("hx", "n")
    val bands = (0 until 4).map { b =>
      val cols = Seq(col("doc_id"), lit(b).as("band"),
        concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}")).as("bval")) ++
        (0 until 8).map(i => col(s"s$i"))
      withSamples.select(cols: _*)
    }.reduce(_.union(_))
    val l = bands
    val r = bands.columns.foldLeft(bands)((df, c) => df.withColumnRenamed(c, c + "_b"))
    val cand = l.join(r,
        col("band") === col("band_b") && col("bval") === col("bval_b") &&
          col("doc_id") < col("doc_id_b"))
      .select((col("doc_id").as("doc_a") +: col("doc_id_b").as("doc_b") +:
        ((0 until 8).map(i => col(s"s$i")) ++ (0 until 8).map(i => col(s"s${i}_b")))): _*)
      .distinct()
    val nDiff = (0 until 8).map(i =>
      when(col(s"s$i") =!= col(s"s${i}_b"), 1).otherwise(0)).reduce(_ + _)
    cand.withColumn("n_diff", nDiff.cast("long"))
      .filter(col("n_diff") <= maxDiff)
      .select(col("doc_a"), col("doc_b"), col("n_diff"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
