package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream.
  *
  * Each transform takes a frame (streaming or batch — the logical plan
  * is the same; only the sink differs), so the batch twins in
  * `operators.Analytics` and these streaming versions share semantics
  * and the ScalaTest specs drive them through MemoryStream.
  *
  * Scale posture: all stateful ops are keyed (state partitions by
  * user/window key across executors), watermarks bound state size, and
  * output modes are append/update — no unbounded complete-mode sinks.
  */
object EventStream {

  /** The off-heap state store a keyed pipeline needs once its state
    * outgrows an executor heap (the `stream` soak scenario measures it
    * against the in-memory default).
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Tumbling-window counts with a watermark: late events beyond the
    * watermark are dropped and window state is reclaimed.
    */
  def tumblingCounts(events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("sum_value"))

  /** Windowed distinct-user sketch (the streaming twin of
    * `q_approx_distinct`): HLL `approx_count_distinct` inside a
    * watermarked tumbling window — per-window state is ONE sketch
    * (KBs), not the user-id set, so a window over a billion users
    * costs the same state as one over a thousand. Append mode: the
    * (window, estimate) row finalizes when the watermark passes.
    */
  def windowedDistinctUsers(events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(approx_count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket"), col("n_users"), col("n_events"))

  /** Windowed percentile sketch (the streaming twin of
    * `q_approx_quantile` — the latency-SLO monitor §2.8 lacked): GK
    * `percentile_approx` inside a watermarked tumbling window. The
    * sketch is a MERGEABLE aggregation buffer, so partial aggregation
    * and multi-executor merge work exactly as for count/sum: per
    * (window) state is one sketch of O(accuracy), never the value
    * buffer — a window over a billion events costs the same state as
    * one over a thousand. All requested quantiles share the single
    * sketch. Append mode: the row finalizes when the watermark passes
    * (the spec pins tiny-cardinality windows to the batch recompute,
    * where GK at high accuracy is exact). `keys` sub-divides each
    * window (latency per endpoint/event-type): state becomes one
    * sketch per (window, key), still O(accuracy) each.
    */
  def windowedPercentiles(events: DataFrame,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      accuracy: Int = 10000,
      windowLen: String = "1 hour",
      watermark: String = "2 hours",
      keys: Seq[String] = Nil): DataFrame = {
    require(ps.nonEmpty && ps.distinct.size == ps.size &&
      ps.forall(p => p >= 0.0 && p <= 1.0),
      s"ps must be distinct quantiles in [0, 1], got $ps")
    // exact column name per quantile: p50, p99, p99_9 — rounding to
    // whole percents would label 0.999 as p100 and collide 0.5/0.505.
    // Scale the DECIMAL form of the double (BigDecimal(p.toString)),
    // not the double product: 0.29 * 100 in double is
    // 28.999999999999996, which would leak into the column name.
    def pName(p: Double): String =
      "p" + (BigDecimal(p.toString) * 100).underlying.stripTrailingZeros
        .toPlainString.replace(".", "_")
    val names = ps.map(pName)
    require(names.distinct.size == names.size,
      s"quantiles $ps map to colliding column names $names")
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen) +: keys.map(col): _*)
      .agg(percentile_approx(col("value"),
          lit(ps.toArray), lit(accuracy)).as("qs"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket") +:
        (keys.map(col) :+ col("n_events")) ++:
        names.zipWithIndex.map { case (n, i) =>
          col("qs").getItem(i).as(n)
        }: _*)
  }

  /** Streaming hourly OHLC bars (the streaming twin of
    * `Analytics.ohlcBars`): `min_by`/`max_by` on the unique
    * (ts, event_id) struct inside a watermarked tumbling window —
    * combinable aggregates, so state per (user, hour) is O(1) and the
    * bar finalizes (append mode) once the watermark passes the window.
    */
  def ohlcBars(events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("user_id"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"))
      .select(col("window.start").as("bar_ts"), col("user_id"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** Sliding-window counts (1h window every 15min). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"))

  /** Built-in session windows: gap-based, watermark-bounded — the
    * declarative twin of `Analytics.sessionize`.
    */
  def sessionWindowCounts(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join: purchases enriched with same-user
    * clicks from the preceding hour. Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can evict
    * join state — the streaming twin of `Temporal.purchaseAsOfClick`
    * (all candidates in the window rather than just the latest).
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      window: String = "1 HOUR", pWatermark: String = "1 hour",
      cWatermark: String = "2 hours"): DataFrame = {
    val p = purchases.withWatermark("ts", pWatermark).alias("p")
    val c = clicks.withWatermark("ts", cWatermark).alias("c")
    p.join(c,
        expr("p.user_id = c.user_id AND " +
          s"c.ts BETWEEN p.ts - INTERVAL $window AND p.ts"))
      .select(col("p.user_id").as("user_id"), col("p.ts").as("purchase_ts"),
        col("c.ts").as("click_ts"), col("p.value").as("purchase_value"))
  }

  /** The measured SEMANTIC mitigation for a hot-key stream-stream
    * join (docs/SCALING.md round 10: one Zipf-hot side stalls
    * `purchaseClickJoin` — the hot key's join-state entry list grows
    * with every buffered purchase and every probe walks it; no state
    * provider fixes it). When the downstream question is
    * aggregate-shaped ("how much purchase volume had an in-window
    * click"), pre-aggregate the hot side into tumbling `bucket`s
    * BEFORE the join: the join then buffers one row per (user,
    * bucket) — BOUNDED per key by watermark/bucket — instead of one
    * per purchase, and the hot key's state no longer scales with its
    * row share. A windowed aggregation feeding a stream-stream join
    * is a supported chained-stateful shape (the aggregate's event
    * time is `window_time` of the bucket).
    *
    * Semantics change is the point (that is what "semantic
    * mitigation" means): output is per (user, purchase-bucket, click)
    * with the bucket's purchase count/sum, and the interval is
    * evaluated against the bucket END time with `bucket` of slack on
    * the far edge (a click in-window for SOME purchase of the bucket
    * is in `[bucketEnd - window - bucket, bucketEnd]`). The spec pins
    * these semantics against a batch recompute.
    */
  def purchaseClickJoinPreAgg(purchases: DataFrame, clicks: DataFrame,
      bucket: String = "5 seconds", window: String = "5 SECONDS",
      pWatermark: String = "10 seconds",
      cWatermark: String = "20 seconds"): DataFrame =
    preAggIntervalJoin(purchases, clicks,
      key = "user_id", hotTime = "ts", probeTime = "ts",
      aggs = Seq(count(lit(1)).as("n_purchases"),
        sum(col("value")).as("purchase_value")),
      bucket = bucket, window = window,
      hotWatermark = pWatermark, probeWatermark = cWatermark)
      .select(col("user_id"),
        col("bucket_end").as("purchase_bucket_end"),
        col("n_purchases"), col("purchase_value"),
        col("ts").as("click_ts"))

  /** The hot-side pre-aggregation transform behind
    * [[purchaseClickJoinPreAgg]], generalized: aggregate the HOT
    * stream into tumbling `bucket`s per `key` BEFORE a stream-stream
    * interval join against the probe stream. Join state buffers one
    * row per (key, bucket) instead of one per hot row, so a key's
    * state is bounded by watermark/bucket — independent of its row
    * share (the property measured in docs/SCALING.md round 11: the
    * regime that committed zero batches raw sustains 6.4M rows/s
    * pre-aggregated).
    *
    * SEMANTIC CONTRACT (the mitigation is semantic, not free): output
    * grain is (key, hot-bucket, probe row), NOT (hot row, probe row).
    *  - the hot side's per-bucket aggregates (`aggs`) stand in for its
    *    rows; downstream questions must be aggregate-shaped,
    *  - the interval is evaluated against the bucket END time
    *    (`window_time`) with `bucket` of slack on the far edge: a
    *    probe row in-window for SOME hot row of the bucket satisfies
    *    `probeTime ∈ [bucketEnd − window − bucket, bucketEnd]` — the
    *    join keeps every raw-grain match and may keep a probe row
    *    whose only "match" was up to one bucket staler than `window`,
    *  - exact raw-grain semantics need the raw join
    *    ([[purchaseClickJoin]]); the spec pins THIS shape's batch
    *    recompute equivalence at bucket grain.
    *
    * A windowed aggregation feeding a stream-stream join is a
    * supported chained-stateful shape: the aggregate's event time is
    * the bucket's `window_time`, which carries the watermark to the
    * join.
    *
    * @param aggs   hot-side aggregate columns per (key, bucket), each
    *               aliased (e.g. `count(lit(1)).as("n")`)
    * @return columns: `key`, `bucket_end` timestamp, `aggs...`, then
    *         every probe column except its `key` (probe's `probeTime`
    *         keeps its name)
    */
  def preAggIntervalJoin(hot: DataFrame, probe: DataFrame,
      key: String, hotTime: String, probeTime: String,
      aggs: Seq[org.apache.spark.sql.Column],
      bucket: String, window: String,
      hotWatermark: String, probeWatermark: String): DataFrame = {
    require(aggs.nonEmpty, "need at least one hot-side aggregate")
    val h = hot.withWatermark(hotTime, hotWatermark)
      .groupBy(col(key),
        org.apache.spark.sql.functions.window(col(hotTime), bucket).as("__w"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_end", window_time(col("__w")))
      .drop("__w")
      .alias("h")
    // the output carries the hot-side agg columns and `bucket_end`
    // NEXT TO every probe column except its key — a name collision
    // would make downstream by-name selection silently ambiguous, so
    // fail fast (the names come from the built hot side, so aliased
    // and generated aggregate names are both covered)
    val probeNonKey = probe.columns.filterNot(_ == key).toSet
    val clash = h.columns.filterNot(_ == key).filter(probeNonKey)
    require(clash.isEmpty,
      s"hot-side output columns ${clash.mkString(", ")} collide with " +
        "probe columns — alias the aggregates (or rename the probe " +
        "columns) to disjoint names")
    val p = probe.withWatermark(probeTime, probeWatermark).alias("p")
    val joined = h.join(p,
      expr(s"h.$key = p.$key AND " +
        s"p.$probeTime BETWEEN h.bucket_end - INTERVAL $window " +
        s"- INTERVAL $bucket AND h.bucket_end"))
    val hotCols = Seq(col(s"h.$key").as(key), col("h.bucket_end")) ++
      h.columns.filterNot(c => c == key || c == "bucket_end")
        .map(c => col(s"h.$c"))
    val probeCols = probe.columns.filterNot(_ == key).map(c => col(s"p.$c"))
    joined.select(hotCols ++ probeCols: _*)
  }

  /** Stream-stream LEFT OUTER interval join: like `purchaseClickJoin`
    * but purchases with NO in-window click still emit — with null
    * click columns — once the click-side watermark passes the join
    * window (only then can Spark prove no match will arrive). The
    * funnel-drop-off query: "purchases without a preceding click".
    */
  def purchaseClickLeftJoin(purchases: DataFrame, clicks: DataFrame,
      window: String = "1 HOUR", pWatermark: String = "1 hour",
      cWatermark: String = "2 hours"): DataFrame = {
    val p = purchases.withWatermark("ts", pWatermark).alias("p")
    val c = clicks.withWatermark("ts", cWatermark).alias("c")
    p.join(c,
        expr("p.user_id = c.user_id AND " +
          s"c.ts BETWEEN p.ts - INTERVAL $window AND p.ts"),
        "left_outer")
      .select(col("p.user_id").as("user_id"), col("p.ts").as("purchase_ts"),
        col("c.ts").as("click_ts"), col("p.value").as("purchase_value"))
  }

  /** Streaming exact dedup: drop repeats of a key seen within the
    * watermark horizon — the streaming twin of `Dedup.exact` /
    * `Fusion.dedupLatestPerKey`, with state bounded by the watermark
    * (old keys are evicted once the watermark passes them).
    */
  def dedupWithinWatermark(events: DataFrame,
      keys: Seq[String] = Seq("dedup_key"),
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment: join the stream against a static
    * dimension frame (broadcast — the dim is read once per microbatch,
    * never shuffled with the stream). No watermark needed: stream-static
    * joins are stateless.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      streamKey: String = "user_id", dimKey: String = "c_custkey"): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** Idempotent streaming upsert via foreachBatch: every microbatch is
    * merged into the parquet target with Sink.dedupUpsert (latest
    * version per key wins), so replays and overlapping batches are
    * absorbed — the streaming twin of the reference's delete-then-
    * insert. Returns the started query; caller awaits/stops it.
    */
  def upsertEachBatch(events: DataFrame, path: String, keys: Seq[String],
      versionCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Sink.dedupUpsert(
          batch.sparkSession, path, batch.toDF(), keys, versionCol)
      }
      .start()

  /** Streaming JDBC sink via foreachBatch: every microbatch is
    * batch-inserted into the target database through `Jdbc.write` —
    * the streaming continuation of the reference's DB-to-DB loop
    * (helper_db_operation.py batch_insert:142). Appends are
    * AT-LEAST-ONCE on replay (plain INSERT has no merge key); point a
    * replayed stream at an idempotent target (PK + ON CONFLICT, or a
    * staging table merged by the DB) for exactly-once effects — the
    * checkpoint guarantees each source offset is processed, not that
    * the insert is not retried.
    */
  def jdbcEachBatch(events: DataFrame, cfg: graft.sources.JdbcConfig,
      checkpoint: String, batchSize: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Jdbc.write(batch.toDF(), cfg,
          mode = org.apache.spark.sql.SaveMode.Append, batchSize = batchSize)
      }
      .start()

  /** Keyed streaming JDBC sink with EXACTLY-ONCE observable effects:
    * each microbatch goes through `Jdbc.upsert` (per-key DELETE +
    * INSERT in per-partition transactions), so a batch re-delivered
    * after a failure between sink write and checkpoint commit
    * re-applies the same key-wise replacement and the target converges
    * to the same state — the idempotent counterpart of
    * `jdbcEachBatch`'s at-least-once append. Requires a replayable
    * source (file/Kafka offsets): idempotence holds because a replayed
    * epoch re-delivers the SAME rows for the same offsets. Contract as
    * `Jdbc.upsert`: one row per key within a microbatch.
    */
  def jdbcUpsertEachBatch(events: DataFrame, cfg: graft.sources.JdbcConfig,
      keys: Seq[String], checkpoint: String, batchSize: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Jdbc.upsert(batch.toDF(), cfg, keys,
          deleteFlag = None, batchSize = batchSize)
      }
      .start()

  /** Incremental file ETL with Trigger.AvailableNow: drain every file
    * the checkpoint has not seen, apply the transform, append to the
    * parquet target, then STOP — the batch-cadence shape of a 100 TB
    * landing-zone pipeline (run it from a scheduler; the checkpoint
    * source log guarantees each input file is processed exactly once
    * across restarts, so reruns and crashes never duplicate or drop a
    * file's rows). Schema is explicit: streaming reads never pay an
    * inference pass.
    */
  def fileEtlAvailableNow(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType,
      transform: DataFrame => DataFrame, outDir: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    transform(spark.readStream.schema(schema).parquet(inDir))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Input row for the streaming as-of enrichment: `kind` is "l"
    * (a row to enrich) or "r" (a reference tick that becomes state).
    */
  final case class Tick(user_id: Long, ts: Timestamp, kind: String,
      event_id: Long, payload: Double)
  final case class AsOfOut(user_id: Long, ts: Timestamp, event_id: Long,
      asof_event_id: Option[Long], asof_payload: Option[Double])
  /** Reference ticks retained per key, newest-first as (tsMs, event_id,
    * payload); pruned against the watermark on every invocation.
    */
  final case class AsOfState(rights: List[(Long, Long, Double)])

  /** Streaming as-of enrichment (the streaming twin of
    * `Temporal.asOfJoin`, which Structured Streaming has no built-in
    * for): every left tick is joined to the latest right tick of the
    * same key at-or-before its timestamp. Keyed state holds the recent
    * right ticks; rights older than the watermark are pruned down to
    * the single newest pre-watermark tick (still the floor candidate
    * for any future left, which must carry ts >= watermark). Tie rules
    * mirror the batch operator: a same-timestamp right IS visible to a
    * left, and among equal-timestamp rights the greatest event_id wins.
    */
  def asOfEnrich(ticks: Dataset[Tick]): Dataset[AsOfOut] = {
    import ticks.sparkSession.implicits._
    ticks
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Tick], state: GroupState[AsOfState]) =>
          // rights first at equal ts; among rights, ascending event_id so
          // the LAST inserted equal-ts right has the greatest id
          val sorted = rows.toSeq.sortBy(t =>
            (t.ts.getTime, if (t.kind == "r") 0 else 1, t.event_id))
          var rights = state.getOption.map(_.rights).getOrElse(Nil)
          val out = Seq.newBuilder[AsOfOut]
          sorted.foreach { t =>
            if (t.kind == "r") {
              // newest-first insert; equal-ts: greater id in front
              val (newer, older) = rights.partition { case (ms, id, _) =>
                ms > t.ts.getTime || (ms == t.ts.getTime && id > t.event_id)
              }
              rights = newer ::: (t.ts.getTime, t.event_id, t.payload) :: older
            } else {
              val m = rights.find(_._1 <= t.ts.getTime)
              out += AsOfOut(userId, t.ts, t.event_id, m.map(_._2), m.map(_._3))
            }
          }
          // watermark pruning: keep all rights >= wm plus the newest older one
          val wm = state.getCurrentWatermarkMs()
          val (recent, old) = rights.span(_._1 >= wm)
          val pruned = recent ::: old.take(1)
          if (pruned.nonEmpty) state.update(AsOfState(pruned)) else state.remove()
          out.result().iterator
      }
  }

  final case class Ev(user_id: Long, ts: Timestamp, value: Double)

  final case class TopKState(items: List[(Double, Long)])
  final case class TopOut(user_id: Long, top_values: Seq[Double])

  /** Streaming bounded top-k per key (the streaming twin of the
    * `graft_topk` aggregate): k-row state per key, updated per
    * microbatch, emitting only when the key's top-k actually changes
    * (Update mode). The state is the same k-bounded structure the
    * batch aggregate ships through its shuffle — here it just lives
    * in the state store instead.
    */
  def topkStateful(events: Dataset[Ev], k: Int = 3): Dataset[TopOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TopKState, TopOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[TopKState]) =>
          val cur = state.getOption.map(_.items).getOrElse(Nil)
          val merged = (cur ++ evs.map(e => (e.value, e.ts.getTime)))
            .sortBy { case (v, t) => (-v, t) }.take(k)
          if (merged == cur) Iterator.empty
          else {
            state.update(TopKState(merged))
            Iterator(TopOut(userId, merged.map(_._1)))
          }
      }
  }

  final case class ThrottleState(lastKeptMs: Long)

  /** Streaming rate-limit (the streaming twin of `q_throttle`, with
    * the STRONGER last-kept semantics batch lag cannot express): an
    * event is emitted only if at least `minGapMs` has passed since the
    * last EMITTED event of the same key — so a burst chain
    * t, t+40min, t+80min emits t and t+80min, where lag-vs-previous
    * would drop everything after t. Keyed state is one Long per key;
    * within a microbatch rows are replayed in event-time order so the
    * decision sequence matches a sequential replay of the stream.
    */
  def throttleStateful(events: Dataset[Ev],
      minGapMs: Long = 60L * 60 * 1000): Dataset[Ev] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ThrottleState, Ev](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[ThrottleState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var lastKept = state.getOption.map(_.lastKeptMs)
          val out = Seq.newBuilder[Ev]
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (lastKept.forall(lk => t - lk >= minGapMs)) {
              out += e
              lastKept = Some(t)
            }
          }
          lastKept.foreach(lk => state.update(ThrottleState(lk)))
          out.result().iterator
      }
  }
  /** Chained streaming window aggregation (the streaming twin of
    * `q_rollup_cascade`): 10-minute counts re-aggregated into hourly
    * totals INSIDE one streaming query — Spark ≥3.4's multiple
    * stateful operators; the second aggregation groups on
    * `window(window, ...)` (time-window-on-time-window) so the hour
    * bar finalizes from minute partials, never from raw state.
    */
  def cascadeCounts(events: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val tenMin = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    tenMin
      .groupBy(window(col("window"), "1 hour"), col("event_type"))
      .agg(sum(col("n")).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"))
  }

  final case class FunnelEv(user_id: Long, ts: Timestamp, kind: String)
  final case class FunnelState(firstClickMs: Long, converted: Boolean)
  final case class FunnelOut(user_id: Long, click_ts: Timestamp,
      purchase_ts: Timestamp, latency_ms: Long)

  /** Streaming conversion funnel (the streaming twin of `q_funnel` /
    * `q_time_to_convert`): per user, remember the FIRST click and emit
    * one conversion row when the first purchase arrives within the
    * window — state is two fields per user regardless of event volume,
    * and a user converts at most once (the `converted` latch makes
    * replayed microbatches idempotent at the sink). Cross-microbatch
    * by construction: the click can arrive triggers earlier than the
    * purchase.
    */
  def funnelStateful(events: Dataset[FunnelEv],
      windowMs: Long = 6L * 60 * 60 * 1000): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.kind))
          var st = state.getOption
          val out = Seq.newBuilder[FunnelOut]
          sorted.foreach { e =>
            val t = e.ts.getTime
            e.kind match {
              case "click" if st.isEmpty =>
                st = Some(FunnelState(t, converted = false))
              case "purchase" =>
                st match {
                  case Some(FunnelState(c, false)) if t >= c && t - c <= windowMs =>
                    out += FunnelOut(userId, new Timestamp(c), e.ts, t - c)
                    st = Some(FunnelState(c, converted = true))
                  case _ => ()
                }
              case _ => ()
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  final case class SessionState(start: Long, lastTs: Long, n: Int, sum: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, sum_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState: emits a
    * session when a gap closes it or the event-time timeout fires.
    * Demonstrates arbitrary keyed state where session_window's
    * fixed semantics don't fit (e.g. value-dependent gaps).
    */
  def sessionizeStateful(events: Dataset[Ev],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def finish(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, new Timestamp(s.start), new Timestamp(s.lastTs), s.n, s.sum)

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (evs.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(finish(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = math.max(s.lastTs, t), n = s.n + 1,
                    sum = s.sum + e.value))
                case Some(s) =>
                  closed += finish(userId, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  final case class EwmaState(s: Double, n: Long, lastMs: Long)
  final case class EwmaOut(user_id: Long, ts: Timestamp, value: Double,
      ewma: Double, deviation: Double, is_anomaly: Boolean)

  /** Streaming EWMA anomaly monitor (the q_ewma twin): per-key
    * exponential smooth carried in GroupState across microbatches —
    * each event scores against the smooth BEFORE being folded in, so
    * a spike flags itself rather than masking itself. Emits every
    * scored event (Update would lose per-event deviations). State is
    * two doubles + a counter per key, O(keys) memory at any rate.
    */
  def ewmaStateful(events: Dataset[Ev], alpha: Double = 0.3,
      threshold: Double = 2.0): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[EwmaState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var st = state.getOption
          val out = Seq.newBuilder[EwmaOut]
          sorted.foreach { e =>
            st match {
              case None =>
                out += EwmaOut(userId, e.ts, e.value, e.value, 0.0, is_anomaly = false)
                st = Some(EwmaState(e.value, 1L, e.ts.getTime))
              case Some(EwmaState(s, n, _)) =>
                val dev = e.value - s
                out += EwmaOut(userId, e.ts, e.value, s, dev,
                  is_anomaly = math.abs(dev) > threshold * math.max(math.abs(s), 1e-9))
                st = Some(EwmaState(alpha * e.value + (1.0 - alpha) * s, n + 1,
                  e.ts.getTime))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }
}
