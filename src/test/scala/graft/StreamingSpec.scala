package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, count, lit, max, percentile_approx}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window counts with watermark via MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.tumblingCounts(events)
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 11:00 windows
      input.addData((ts("2024-01-01 15:00:00"), "click", 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT bucket, event_type, n, sum_value FROM tumbling_test ORDER BY bucket")
        .collect()
      val clicks10 = rows.find(r => r.getTimestamp(0) == ts("2024-01-01 10:00:00"))
      assert(clicks10.isDefined && clicks10.get.getLong(2) == 2L &&
        clicks10.get.getDouble(3) == 3.0)
      val views11 = rows.find(r => r.getTimestamp(0) == ts("2024-01-01 11:00:00"))
      assert(views11.isDefined && views11.get.getLong(2) == 1L)
    } finally q.stop()
  }

  test("windowed distinct-user sketch: exact at tiny cardinality, one row per closed window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = EventStream.windowedDistinctUsers(events)
      .writeStream.format("memory").queryName("wdu_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), 1L),
        (ts("2024-01-01 10:15:00"), 1L), // dup user
        (ts("2024-01-01 10:25:00"), 2L),
        (ts("2024-01-01 11:05:00"), 3L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:00:00"), 9L)) // close both windows
      q.processAllAvailable()
      val rows = spark.sql("SELECT bucket, n_users, n_events FROM wdu_test ORDER BY bucket")
        .collect()
      val w10 = rows.find(_.getTimestamp(0) == ts("2024-01-01 10:00:00")).get
      assert(w10.getLong(1) === 2L) // HLL exact at this cardinality
      assert(w10.getLong(2) === 3L)
      val w11 = rows.find(_.getTimestamp(0) == ts("2024-01-01 11:00:00")).get
      assert(w11.getLong(1) === 1L && w11.getLong(2) === 1L)
    } finally q.stop()
  }

  test("windowed percentile sketch: batch-exact at tiny cardinality, " +
      "one row per closed window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val events = input.toDF().toDF("ts", "value")
    val q = EventStream.windowedPercentiles(events, ps = Seq(0.5, 0.9))
      .writeStream.format("memory").queryName("wp_test")
      .outputMode(OutputMode.Append).start()
    val w10 = (1 to 19).map(i => (ts(f"2024-01-01 10:${i * 3}%02d:00"), i * 10.0))
    val w11 = Seq((ts("2024-01-01 11:05:00"), 7.0), (ts("2024-01-01 11:10:00"), 9.0))
    try {
      input.addData(w10 ++ w11: _*)
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:00:00"), 0.0)) // close both windows
      q.processAllAvailable()
      val rows = spark.sql("SELECT bucket, n_events, p50, p90 FROM wp_test")
        .collect().map(r => r.getTimestamp(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      // GK at accuracy 10000 is exact at this cardinality; compare to
      // the batch percentile_approx on the same rows (same estimator)
      val batch = w10.map(_._2).toDF("value")
        .agg(percentile_approx(col("value"),
          lit(Array(0.5, 0.9)), lit(10000)).as("q"))
        .head().getSeq[Double](0)
      assert(rows(ts("2024-01-01 10:00:00")) == ((19L, batch(0), batch(1))))
      assert(rows(ts("2024-01-01 11:00:00")) == ((2L, 7.0, 9.0)))
    } finally q.stop()
  }

  test("windowed percentiles sub-divide by key: one sketch per (window, key)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "endpoint", "value")
    val q = EventStream.windowedPercentiles(events, ps = Seq(0.5),
        keys = Seq("endpoint"))
      .writeStream.format("memory").queryName("wpk_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "a", 1.0),
        (ts("2024-01-01 10:10:00"), "a", 3.0),
        (ts("2024-01-01 10:15:00"), "a", 5.0),
        (ts("2024-01-01 10:05:00"), "b", 100.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:00:00"), "z", 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT endpoint, n_events, p50 FROM wpk_test " +
          "WHERE bucket = TIMESTAMP'2024-01-01 10:00:00'")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2))).toMap
      assert(got == Map("a" -> ((3L, 3.0)), "b" -> ((1L, 100.0))))
    } finally q.stop()
  }

  test("preAggIntervalJoin generalizes: custom key/time names and aggs") {
    implicit val sqlCtx = spark.sqlContext
    val hIn = MemoryStream[(Long, Timestamp, Double)]
    val pIn = MemoryStream[(Long, Timestamp, String)]
    val hot = hIn.toDF().toDF("acct", "htime", "amount")
    val probe = pIn.toDF().toDF("acct", "ptime", "tag")
    val q = EventStream.preAggIntervalJoin(hot, probe,
        key = "acct", hotTime = "htime", probeTime = "ptime",
        aggs = Seq(max(col("amount")).as("max_amount"),
          count(lit(1)).as("n")),
        bucket = "5 seconds", window = "5 SECONDS",
        hotWatermark = "10 seconds", probeWatermark = "20 seconds")
      .writeStream.format("memory").queryName("paij_test")
      .outputMode(OutputMode.Append).start()
    try {
      hIn.addData((1L, ts("2024-01-01 10:00:01"), 4.0),
        (1L, ts("2024-01-01 10:00:03"), 9.0))
      pIn.addData((1L, ts("2024-01-01 10:00:02"), "hit"),
        (2L, ts("2024-01-01 10:00:02"), "wrong-key"))
      hIn.addData((8L, ts("2024-01-01 10:05:00"), 0.0))
      pIn.addData((8L, ts("2024-01-01 10:05:00"), "close"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT acct, max_amount, n, tag FROM paij_test WHERE acct = 1")
        .collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3))).toSet
      assert(got == Set((1L, 9.0, 2L, "hit")))
    } finally q.stop()
  }

  test("chained window aggregation: hour bars re-aggregate ten-minute partials") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.cascadeCounts(events)
      .writeStream.format("memory").queryName("cascade_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:15:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 1.0),
        (ts("2024-01-01 11:05:00"), "view", 1.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 16:00:00"), "click", 0.0)) // close windows
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT bucket, event_type, n FROM cascade_test ORDER BY bucket")
        .collect()
      val clicks10 = rows.find(r =>
        r.getTimestamp(0) == ts("2024-01-01 10:00:00") && r.getString(1) == "click")
      assert(clicks10.isDefined && clicks10.get.getLong(2) === 3L)
      val views11 = rows.find(r =>
        r.getTimestamp(0) == ts("2024-01-01 11:00:00") && r.getString(1) == "view")
      assert(views11.isDefined && views11.get.getLong(2) === 1L)
    } finally q.stop()
  }

  test("streaming funnel: first click remembered across batches, one conversion per user") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.FunnelEv]
    val q = EventStream.funnelStateful(input.toDS())
      .writeStream.format("memory").queryName("funnel_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EventStream.FunnelEv(1L, ts("2024-01-01 10:00:00"), "click"),
        EventStream.FunnelEv(2L, ts("2024-01-01 10:00:00"), "click"))
      q.processAllAvailable()
      input.addData( // purchase in a LATER microbatch: state carried
        EventStream.FunnelEv(1L, ts("2024-01-01 12:00:00"), "purchase"),
        // user 2 purchases outside the 6h window
        EventStream.FunnelEv(2L, ts("2024-01-01 17:00:00"), "purchase"),
        // user 3 purchases with no prior click
        EventStream.FunnelEv(3L, ts("2024-01-01 12:30:00"), "purchase"))
      q.processAllAvailable()
      input.addData( // second purchase of user 1 must NOT emit again
        EventStream.FunnelEv(1L, ts("2024-01-01 13:00:00"), "purchase"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, latency_ms FROM funnel_test ORDER BY user_id").collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(0) === 1L)
      assert(rows.head.getLong(1) === 2L * 60 * 60 * 1000)
    } finally q.stop()
  }

  test("streaming OHLC bars finalize once the watermark passes the window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long, Double)]
    val events = input.toDF().toDF("ts", "event_id", "user_id", "value")
    val q = EventStream.ohlcBars(events)
      .writeStream.format("memory").queryName("ohlc_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), 1L, 7L, 5.0),   // open
        (ts("2024-01-01 10:20:00"), 2L, 7L, 9.0),   // high
        (ts("2024-01-01 10:40:00"), 3L, 7L, 2.0),   // low
        (ts("2024-01-01 10:50:00"), 4L, 7L, 6.0))   // close
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:00:00"), 9L, 7L, 0.0)) // advance watermark
      q.processAllAvailable()
      val r = spark.sql(
        "SELECT * FROM ohlc_test WHERE bar_ts = TIMESTAMP'2024-01-01 10:00:00'")
        .collect()
      assert(r.length == 1)
      val row = r.head
      assert(row.getAs[Double]("open") == 5.0 && row.getAs[Double]("high") == 9.0 &&
        row.getAs[Double]("low") == 2.0 && row.getAs[Double]("close") == 6.0 &&
        row.getAs[Long]("volume") == 4L)
      // matches the batch twin's aggregate semantics on the same rows
    } finally q.stop()
  }

  test("stateful sessionization emits gap-separated sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Ev]
    val q = EventStream.sessionizeStateful(input.toDS())
      .writeStream.format("memory").queryName("session_test")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h gap,
      // then another event (second session).
      input.addData(
        EventStream.Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
        EventStream.Ev(1L, ts("2024-01-01 10:10:00"), 2.0))
      q.processAllAvailable()
      input.addData(EventStream.Ev(1L, ts("2024-01-01 12:10:00"), 5.0))
      q.processAllAvailable()
      // push watermark forward so the open session times out and flushes
      input.addData(EventStream.Ev(99L, ts("2024-01-01 20:00:00"), 0.0))
      q.processAllAvailable()
      input.addData(EventStream.Ev(98L, ts("2024-01-02 08:00:00"), 0.0))
      q.processAllAvailable()
      val sessions = spark.sql(
        "SELECT user_id, session_start, n_events, sum_value FROM session_test " +
        "WHERE user_id = 1 ORDER BY session_start").collect()
      assert(sessions.length == 2, s"got ${sessions.mkString(";")}")
      assert(sessions(0).getInt(2) == 2 && sessions(0).getDouble(3) == 3.0)
      assert(sessions(1).getInt(2) == 1 && sessions(1).getDouble(3) == 5.0)
    } finally q.stop()
  }

  test("asOfEnrich attaches the latest right tick at-or-before each left") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Tick]
    val q = EventStream.asOfEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_stream_test")
      .outputMode(OutputMode.Append).start()
    try {
      import EventStream.Tick
      // batch 1: two rights then a left between them, plus a same-ts
      // right/left pair (right must be visible to the left)
      input.addData(
        Tick(1L, ts("2024-01-01 10:00:00"), "r", 100L, 1.0),
        Tick(1L, ts("2024-01-01 11:00:00"), "r", 101L, 2.0),
        Tick(1L, ts("2024-01-01 10:30:00"), "l", 500L, 0.0),
        Tick(2L, ts("2024-01-01 09:00:00"), "r", 200L, 7.0),
        Tick(2L, ts("2024-01-01 09:00:00"), "l", 600L, 0.0))
      q.processAllAvailable()
      // batch 2: a left AFTER both rights matches the newest; a left
      // for a key with no prior right gets null
      input.addData(
        Tick(1L, ts("2024-01-01 12:00:00"), "l", 501L, 0.0),
        Tick(3L, ts("2024-01-01 12:00:00"), "l", 700L, 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_id, asof_event_id, asof_payload FROM asof_stream_test " +
        "ORDER BY event_id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(500L, 501L, 600L, 700L))
      // 500 @10:30 -> right 100 @10:00 (not the 11:00 future right)
      assert(rows(0).getLong(1) == 100L && rows(0).getDouble(2) == 1.0)
      // 501 @12:00 -> newest right 101 @11:00, carried across batches
      assert(rows(1).getLong(1) == 101L && rows(1).getDouble(2) == 2.0)
      // 600 same-ts as right 200: the right is visible
      assert(rows(2).getLong(1) == 200L && rows(2).getDouble(2) == 7.0)
      // 700: no right for key 3 -> null enrichment
      assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups a keyed stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val events = input.toDF().toDF("dedup_key", "ts")
    val q = EventStream.dedupWithinWatermark(events)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(("a", ts("2024-01-01 10:00:00")),
        ("a", ts("2024-01-01 10:05:00")), ("b", ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      val keys = spark.sql("SELECT dedup_key FROM dedup_test")
        .collect().map(_.getString(0)).toSeq
      assert(keys.sorted == Seq("a", "b"))
    } finally q.stop()
  }

  test("stream-stream interval join matches in-window clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp, Double)]
    val cIn = MemoryStream[(Long, Timestamp, Double)]
    val purchases = pIn.toDF().toDF("user_id", "ts", "value")
    val clicks = cIn.toDF().toDF("user_id", "ts", "value")
    val q = EventStream.purchaseClickJoin(purchases, clicks)
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode(OutputMode.Append).start()
    try {
      cIn.addData(
        (1L, ts("2024-01-01 09:30:00"), 0.0), // in window of the purchase
        (1L, ts("2024-01-01 07:00:00"), 0.0), // too old
        (2L, ts("2024-01-01 09:45:00"), 0.0)) // wrong user
      pIn.addData((1L, ts("2024-01-01 10:00:00"), 42.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, click_ts FROM ssjoin_test").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 1L &&
        rows(0).getTimestamp(1) == ts("2024-01-01 09:30:00"))
    } finally q.stop()
  }

  test("pre-aggregated stream-stream join: bucketed hot side, batch-equal semantics") {
    // the hot-key mitigation: a windowed aggregation FEEDS the
    // stream-stream interval join, so join state per key is buckets,
    // not purchases. Semantics (bucket granularity, bucket of interval
    // slack) are pinned here against the batch run of the same plan.
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp, Double)]
    val cIn = MemoryStream[(Long, Timestamp, Double)]
    val purchases = pIn.toDF().toDF("user_id", "ts", "value")
    val clicks = cIn.toDF().toDF("user_id", "ts", "value")
    val q = EventStream.purchaseClickJoinPreAgg(purchases, clicks)
      .writeStream.format("memory").queryName("ssjoin_preagg_test")
      .outputMode(OutputMode.Append).start()
    val pData = Seq(
      (1L, ts("2024-01-01 10:00:01"), 10.0), // same 5s bucket ...
      (1L, ts("2024-01-01 10:00:03"), 32.0), // ... aggregates to n=2, 42.0
      (3L, ts("2024-01-01 10:00:02"), 5.0))  // no click: inner join drops
    val cData = Seq(
      (1L, ts("2024-01-01 10:00:00"), 0.0), // in window of the bucket
      (1L, ts("2024-01-01 09:59:52"), 0.0), // beyond window+bucket slack
      (2L, ts("2024-01-01 10:00:02"), 0.0)) // wrong user
    try {
      cIn.addData(cData: _*)
      pIn.addData(pData: _*)
      // close the purchase bucket (agg emits on watermark) and the join
      pIn.addData((9L, ts("2024-01-01 10:05:00"), 0.0))
      cIn.addData((9L, ts("2024-01-01 10:05:00"), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, n_purchases, purchase_value, click_ts " +
          "FROM ssjoin_preagg_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getTimestamp(3))).toSet
      assert(got == Set((1L, 2L, 42.0, ts("2024-01-01 10:00:00"))))
      // batch twin of the same plan on the same frames agrees
      val batch = EventStream.purchaseClickJoinPreAgg(
        (pData :+ ((9L, ts("2024-01-01 10:05:00"), 0.0)))
          .toDF("user_id", "ts", "value"),
        (cData :+ ((9L, ts("2024-01-01 10:05:00"), 0.0)))
          .toDF("user_id", "ts", "value"))
        .select(col("user_id"), col("n_purchases"), col("purchase_value"),
          col("click_ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getTimestamp(3))).toSet
      // batch ignores watermarks, so the closing 10:05 helper rows join
      // each other there — exclude that pair, the semantics under test
      // are user 1's bucket
      assert(batch.filter(_._1 != 9L) == got)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp, Double)]
    val cIn = MemoryStream[(Long, Timestamp, Double)]
    val purchases = pIn.toDF().toDF("user_id", "ts", "value")
    val clicks = cIn.toDF().toDF("user_id", "ts", "value")
    val q = EventStream.purchaseClickLeftJoin(purchases, clicks)
      .writeStream.format("memory").queryName("ssleft_test")
      .outputMode(OutputMode.Append).start()
    try {
      cIn.addData((1L, ts("2024-01-01 09:30:00"), 0.0))
      pIn.addData(
        (1L, ts("2024-01-01 10:00:00"), 42.0), // has a click
        (2L, ts("2024-01-01 10:00:00"), 7.0))  // no click: null row later
      q.processAllAvailable()
      // The matched row emits immediately; the unmatched one only once
      // the click watermark (2h) passes its window — advance both sides.
      cIn.addData((9L, ts("2024-01-01 23:00:00"), 0.0))
      pIn.addData((9L, ts("2024-01-01 23:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, click_ts FROM ssleft_test WHERE user_id IN (1, 2)")
        .collect().map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toSet
      assert(rows == Set(
        (1L, Some(ts("2024-01-01 09:30:00"))), (2L, None)))
    } finally q.stop()
  }

  test("session_window builtin aggregates on batch frames") {
    val batch = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),
      (1L, ts("2024-01-01 12:10:00"), 5.0)
    ).toDF("user_id", "ts", "value")
    val s = EventStream.sessionWindowCounts(batch).collect()
    assert(s.length == 2)
  }

  test("stream-static join enriches events with the customer dim") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val events = input.toDF().toDF("user_id", "value")
    val dim = graft.sources.Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_name")
    val q = EventStream.enrichWithDim(events, dim)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, 10.0), (999999L, 5.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, c_name FROM enrich_test ORDER BY user_id").collect()
      assert(rows.length == 2)
      assert(rows(0).getString(1) != null)   // known customer enriched
      assert(rows(1).isNullAt(1))            // unknown key survives (left join)
    } finally q.stop()
  }

  test("sliding windows emit one bucket per overlapping 15-min slide") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.slidingCounts(events)
      .writeStream.format("memory").queryName("sliding_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts("2024-01-01 10:20:00"), "click", 1.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:00:00"), "click", 0.0))
      q.processAllAvailable()
      val buckets = spark.sql(
        "SELECT bucket FROM sliding_test WHERE bucket < TIMESTAMP '2024-01-01 12:00:00' ORDER BY bucket")
        .collect().map(_.getTimestamp(0))
      // A 10:20 event belongs to the four 1h windows sliding by 15min
      // that cover it: starts 09:30, 09:45, 10:00, 10:15.
      assert(buckets.toSeq == Seq(
        ts("2024-01-01 09:30:00"), ts("2024-01-01 09:45:00"),
        ts("2024-01-01 10:00:00"), ts("2024-01-01 10:15:00")))
    } finally q.stop()
  }

  test("fileEtlAvailableNow resumes from checkpoint exactly-once") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StructType}
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val schema = new StructType().add("id", LongType)
    def drain(): Unit = {
      val q = EventStream.fileEtlAvailableNow(spark, in, schema,
        df => df.withColumn("doubled", col("id") * 2), out, ckpt)
      q.awaitTermination()
    }
    spark.range(0, 5).select(col("id")).write.mode("append").parquet(in)
    drain()
    assert(spark.read.parquet(out).count() == 5)
    // New files land; a restarted drain must process ONLY them — the
    // checkpoint's source log is what makes reruns exactly-once.
    spark.range(5, 12).select(col("id")).write.mode("append").parquet(in)
    drain()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq == (0L until 12L).map(i => (i, i * 2)))
  }

  test("RocksDB state store: dedup state survives checkpoint restart") {
    // Same restart-from-checkpoint shape as the fileEtl test, but the
    // transform is STATEFUL (dropDuplicates with no watermark keeps
    // every seen key in the state store forever) and the store is
    // RocksDBStateStoreProvider — the provider a 100 TB pipeline needs
    // because keyed state does not fit a heap. Drain 1 seeds keys;
    // drain 2 (a fresh query on the same checkpoint) must suppress a
    // RE-ARRIVING key it only knows from RESTORED RocksDB state.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StructType}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, EventStream.RocksDbProvider)
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_rocks").toString
      val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
      val schema = new StructType().add("id", LongType)
      def drain(): Unit =
        EventStream.fileEtlAvailableNow(spark, in, schema,
          df => df.dropDuplicates("id"), out, ckpt).awaitTermination()
      Seq(1L, 2L, 3L, 2L).toDF("id").write.mode("append").parquet(in)
      drain()
      assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L, 3L))
      // key 3 re-arrives after restart; only restored state can know it
      Seq(3L, 4L).toDF("id").write.mode("append").parquet(in)
      drain()
      assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L, 3L, 4L))
      // the state store on disk really is RocksDB, not the default
      // provider silently substituted: the checkpoint's state dir
      // carries RocksDB's zip/changelog layout
      val stateDir = new java.io.File(s"$ckpt/state/0/0")
      assert(stateDir.isDirectory, "state dir missing")
      val entries = stateDir.listFiles().map(_.getName)
      assert(entries.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
        s"expected RocksDB snapshot/changelog files, saw: ${entries.mkString(",")}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("foreachBatch upsert absorbs replayed keys across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val input = MemoryStream[(Long, Long, String)]
    val events = input.toDF().toDF("id", "version", "payload")
    val q = EventStream.upsertEachBatch(events, s"$dir/t",
      Seq("id"), "version", s"$dir/ckpt")
    try {
      input.addData((1L, 1L, "old"), (2L, 1L, "two"))
      q.processAllAvailable()
      input.addData((1L, 2L, "new"), (3L, 1L, "three"))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/t")
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(2)))
      assert(rows.toSeq == Seq((1L, "new"), (2L, "two"), (3L, "three")))
    } finally q.stop()
  }


  test("streaming incremental dedup: batch probes history, survivors " +
    "append and suppress later twins") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val mk = (id: Long, text: String) => (id, text)
    // history: one known document
    val histText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hist = Seq(mk(1L, histText)).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(hist, s"$root/idx")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = Dedup.dedupStreamAgainstIndex(docs, s"$root/idx",
      s"$root/out", s"$root/ckpt")
    try {
      // batch 1: a twin of history (dropped) + a genuinely new doc
      val novel = "one two three four five six seven eight nine ten"
      input.addData(mk(10L, histText), mk(11L, novel))
      q.processAllAvailable()
      // batch 2: a twin of the batch-1 SURVIVOR (dropped — proves the
      // append made it probe-visible) + another new doc
      val fresh = "red orange yellow green blue indigo violet umber ochre teal"
      input.addData(mk(20L, novel), mk(21L, fresh))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$root/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landed == Set(11L, 21L), s"got $landed")
    } finally q.stop()
  }

  test("streaming dedup with per-batch compaction: verdicts identical, " +
    "index collapses to one row per doc/band") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft_sdedupc").toString
    val histText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hist = Seq((1L, histText)).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(hist, s"$root/idx")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // compactEvery = 1: the lifecycle pass runs after EVERY batch — the
    // verdict stream must be indistinguishable from the uncompacted
    // twin above, and the index must hold exactly one row per doc/band
    val q = Dedup.dedupStreamAgainstIndex(docs, s"$root/idx",
      s"$root/out", s"$root/ckpt", compactEvery = 1)
    try {
      val novel = "one two three four five six seven eight nine ten"
      input.addData((10L, histText), (11L, novel))
      q.processAllAvailable()
      val fresh = "red orange yellow green blue indigo violet umber ochre teal"
      input.addData((20L, novel), (21L, fresh))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$root/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landed == Set(11L, 21L), s"got $landed")
      // index state: history + the two survivors, compacted flat
      val sigs = spark.read.parquet(s"$root/idx/sigs.parquet")
      assert(sigs.count() == 3 &&
        sigs.select("doc_id").distinct().count() == 3)
      val bands = spark.read.parquet(s"$root/idx/bands.parquet")
      assert(bands.count() == bands.distinct().count())
      assert(bands.count() == 3 * graft.operators.Dedup.MinhashBands)
    } finally q.stop()
  }

  test("streaming substring scrub: spans quoting history are cut, " +
    "surviving text indexes for later batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft_sscrub").toString
    val span = (1 to 20).map(i => s"known$i").mkString(" ")
    val hist = Seq((1L, s"intro words here then $span and a tail"))
      .toDF("doc_id", "text")
    Dedup.writeGramIndex(hist, s"$root/idx")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = Dedup.substringStreamAgainstIndex(docs, s"$root/idx",
      s"$root/out", s"$root/ckpt")
    try {
      // batch 1: doc 10 quotes the historical span inside novel text
      val novel = (1 to 20).map(i => s"novel$i").mkString(" ")
      input.addData((10L, s"$novel $span"))
      q.processAllAvailable()
      // batch 2: doc 20 quotes doc 10's SURVIVING text — only the
      // streamed append can make that span visible
      input.addData((20L, s"completely different opening words here $novel"))
      q.processAllAvailable()
      val byId = spark.read.parquet(s"$root/out")
        .collect().map(r => r.getLong(0) ->
          (r.getAs[String]("scrub"), r.getAs[Long]("n_removed"))).toMap
      // doc 10 lost the 20 historical tokens, kept its novel 20
      assert(byId(10L) == (novel, 20L), s"doc 10: ${byId(10L)}")
      // doc 20 lost the 20 tokens quoting doc 10's survivor
      assert(byId(20L)._2 == 20L, s"doc 20: ${byId(20L)}")
      assert(byId(20L)._1 == "completely different opening words here")
    } finally q.stop()
  }

  test("streaming composed corpus: gopher reject, near-dup drop, and " +
    "quote scrub chain end-to-end across two batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft_scorpus").toString
    // gopher-passing synthetic text: 64 medium-length alnum words
    // including two distinct stopwords (word count, mean length,
    // stopword, and alpha-ratio rules all pass)
    def passing(tag: String): String =
      (1 to 60).map(i => s"$tag$i").mkString(" ") + " the quick of work"
    val textH = passing("hist")
    val textA = passing("alpha")
    // doc 21: novel body + a 20-token verbatim quote of textA. The
    // quote slice matters: the affine h1+i·h2 signature family is
    // all-or-nothing per pair (one globally-minimal shingle hash can
    // win every component), and the alpha10-29 slice happens to hold
    // textA's minimal shingle — quoting it makes est_jac ≈ 1 at true
    // J ≈ 0.17. The alpha30-49 slice doesn't even band-match, so the
    // doc exercises exactly the intended path: past the near-dup
    // probe, into the quote scrubber.
    val quote = (30 to 49).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 45).map(i => s"bravo$i").mkString(" ") +
      " the of " + quote
    Dedup.writeMinhashIndex(Seq((1L, textH)).toDF("doc_id", "text"),
      s"$root/mh")
    Dedup.writeGramIndex(Seq((1L, textH)).toDF("doc_id", "text"),
      s"$root/gram")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.operators.Pipeline.corpusStream(docs, s"$root/mh",
      s"$root/gram", s"$root/out", s"$root/ckpt")
    try {
      // batch 1: a gopher reject (never lands, never indexes) + a
      // clean survivor
      input.addData((10L, "too short to pass the gopher rules"),
        (11L, textA))
      q.processAllAvailable()
      // batch 2: a twin of the batch-1 SURVIVOR (near-dup drop proves
      // the minhash append) + a doc quoting 20 of its tokens (span cut
      // proves the gram append)
      input.addData((20L, textA), (21L, textB))
      q.processAllAvailable()
      val byId = spark.read.parquet(s"$root/out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("scrub"), r.getAs[Long]("n_removed"))).toMap
      assert(byId.keySet == Set(11L, 21L), s"landed ${byId.keySet}")
      // survivor 11 passed untouched; 21 lost exactly the quote
      assert(byId(11L) == (textA, 0L), s"doc 11: ${byId(11L)}")
      assert(byId(21L) ==
        ((1 to 45).map(i => s"bravo$i").mkString(" ") + " the of", 20L),
        s"doc 21: ${byId(21L)}")
      // index state: history + the two landed survivors, nothing else
      // (the gopher reject and the near-dup never reached an index)
      val sigIds = spark.read.parquet(s"$root/mh/sigs.parquet")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sigIds == Set(1L, 11L, 21L), s"mh index holds $sigIds")
    } finally q.stop()
  }

  test("foreachBatch jdbc sink lands every microbatch row in the database") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_jdbc_stream").toString
    val cfg = graft.sources.JdbcConfig(
      "jdbc:derby:memory:graftstream;create=true", "stream_sink")
    val input = MemoryStream[(Long, String)]
    val events = input.toDF().toDF("id", "payload")
    val q = EventStream.jdbcEachBatch(events, cfg, s"$dir/ckpt")
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val back = graft.sources.Jdbc.load(spark, cfg)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(back.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("replayed microbatch: upsert sink converges, append sink duplicates") {
    // A REAL checkpoint replay, not a simulation: run a file-source
    // stream to completion, then delete the checkpoint's commit marker
    // for the last batch — exactly the on-disk state left by a crash
    // between the foreachBatch write and the commit — and restart. The
    // source log re-delivers the same batch; the keyed upsert sink
    // must absorb it (exactly-once effects), while the plain append
    // sink demonstrably duplicates (its documented at-least-once).
    val dir = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val in = s"$dir/in"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType)))
    spark.range(0, 5)
      .select(col("id"), concat(lit("p"), col("id")).as("payload"))
      .write.mode("append").parquet(in)
    def dropLastCommit(ckpt: String): Unit = {
      val commits = new java.io.File(s"$ckpt/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      assert(commits.nonEmpty, "no commit marker to drop")
      val last = commits.last
      // the local checksum FS keeps a hidden .N.crc sidecar; leaving it
      // behind blocks the re-commit rename on restart
      val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
      if (crc.exists()) assert(crc.delete())
      assert(last.delete())
    }
    def streamInto(sink: DataFrame => org.apache.spark.sql.streaming
        .StreamingQuery): Unit = {
      val q = sink(spark.readStream.schema(schema).parquet(in))
      try q.processAllAvailable() finally q.stop()
      // stop() can return before the manager deregisters the run; the
      // restart below reuses the SAME checkpoint, so wait it out
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(!spark.streams.active.exists(_.id == q.id))
    }
    // keyed upsert sink: batch 0 delivered, then REPLAYED
    val upCfg = graft.sources.JdbcConfig(
      "jdbc:derby:memory:graftstream;create=true", "replay_upsert")
    graft.sources.Jdbc.write(
      spark.range(0).select(col("id"), lit("").as("payload")), upCfg)
    streamInto(EventStream.jdbcUpsertEachBatch(_, upCfg, Seq("id"),
      s"$dir/ckpt_up"))
    dropLastCommit(s"$dir/ckpt_up")
    streamInto(EventStream.jdbcUpsertEachBatch(_, upCfg, Seq("id"),
      s"$dir/ckpt_up"))
    val up = graft.sources.Jdbc.load(spark, upCfg)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(up.toSeq == (0L until 5L).map(i => (i, s"p$i")),
      s"upsert sink did not converge under replay: ${up.toSeq}")
    // plain append sink, same replay: every row lands twice
    val apCfg = graft.sources.JdbcConfig(
      "jdbc:derby:memory:graftstream;create=true", "replay_append")
    streamInto(EventStream.jdbcEachBatch(_, apCfg, s"$dir/ckpt_ap"))
    dropLastCommit(s"$dir/ckpt_ap")
    streamInto(EventStream.jdbcEachBatch(_, apCfg, s"$dir/ckpt_ap"))
    assert(graft.sources.Jdbc.load(spark, apCfg).count() == 10L,
      "append sink is expected to duplicate on replay (at-least-once)")
  }

  test("topkStateful tracks the running top-k and emits only on change") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Ev]
    val q = EventStream.topkStateful(input.toDS())
      .writeStream.format("memory").queryName("topk_test")
      .outputMode(OutputMode.Update).start()
    try {
      import EventStream.Ev
      input.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 5.0),
        Ev(1L, ts("2024-01-01 10:01:00"), 9.0),
        Ev(1L, ts("2024-01-01 10:02:00"), 1.0))
      q.processAllAvailable()
      // 2.0 does not enter the top-3 {9,5,1}? It does: beats 1.0
      input.addData(Ev(1L, ts("2024-01-01 10:03:00"), 2.0))
      q.processAllAvailable()
      // 0.5 cannot enter {9,5,2} → no new emission
      input.addData(Ev(1L, ts("2024-01-01 10:04:00"), 0.5))
      q.processAllAvailable()
      val rows = spark.sql("SELECT top_values FROM topk_test")
        .collect().map(_.getSeq[Double](0).toList).toList
      assert(rows.length == 2, rows.toString)
      assert(rows(0) == List(9.0, 5.0, 1.0))
      assert(rows(1) == List(9.0, 5.0, 2.0))
    } finally q.stop()
  }

  test("throttleStateful keeps last-KEPT gap semantics across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Ev]
    val q = EventStream.throttleStateful(input.toDS())
      .writeStream.format("memory").queryName("throttle_test")
      .outputMode(OutputMode.Append).start()
    try {
      import EventStream.Ev
      // burst chain 40 min apart: t0 kept, t0+40m dropped (40m < 1h
      // from kept t0), t0+80m kept (80m >= 1h from kept t0) — the
      // case where lag-vs-previous would drop BOTH later events.
      input.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
        Ev(1L, ts("2024-01-01 10:40:00"), 2.0))
      q.processAllAvailable()
      // state must carry across microbatches: 10:40 was dropped, so
      // the reference instant is still 10:00
      input.addData(Ev(1L, ts("2024-01-01 11:20:00"), 3.0))
      q.processAllAvailable()
      // exactly at the 1h boundary from the last kept (11:20) → kept
      input.addData(Ev(1L, ts("2024-01-01 12:20:00"), 4.0))
      q.processAllAvailable()
      val kept = spark.sql(
        "SELECT value FROM throttle_test WHERE user_id = 1 ORDER BY ts")
        .collect().map(_.getDouble(0)).toSeq
      assert(kept == Seq(1.0, 3.0, 4.0))
    } finally q.stop()
  }

  test("ewmaStateful carries the smooth across microbatches and flags the spike") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Ev]
    val q = EventStream.ewmaStateful(input.toDS())
      .writeStream.format("memory").queryName("ewma_test")
      .outputMode(OutputMode.Append).start()
    try {
      import EventStream.Ev
      input.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 10.0),
        Ev(1L, ts("2024-01-01 10:10:00"), 10.0))
      q.processAllAvailable()
      // smooth after two 10s is 10; a 100 must flag against state
      // carried from the PREVIOUS microbatch
      input.addData(Ev(1L, ts("2024-01-01 10:20:00"), 100.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT value, ewma, is_anomaly FROM ewma_test WHERE user_id = 1 ORDER BY ts")
        .collect()
      assert(rows.length === 3)
      assert(!rows(0).getBoolean(2) && !rows(1).getBoolean(2))
      assert(rows(2).getBoolean(2), "spike must flag against the carried smooth")
      assert(math.abs(rows(2).getDouble(1) - 10.0) < 1e-9,
        "spike scores against the PRE-update smooth")
      // next event scores against a smooth that has absorbed the spike
      input.addData(Ev(1L, ts("2024-01-01 10:30:00"), 37.0))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT ewma FROM ewma_test WHERE user_id = 1 ORDER BY ts DESC LIMIT 1")
        .collect().head.getDouble(0)
      assert(math.abs(last - (0.3 * 100.0 + 0.7 * 10.0)) < 1e-9)
    } finally q.stop()
  }
}
