package graft

import org.apache.spark.sql.SparkSession

/** Session factory: one place for the engine's Spark configuration.
  *
  * Scale posture: AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions sized for the harness (local[32]) rather than the
  * 200 default; on a real cluster these come from spark-submit conf and
  * this builder only fills in what is unset.
  */
object GraftSession {
  def builder(
      master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"),
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  ): SparkSession.Builder = {
    // Embedded Derby (the JDBC gates' stand-in database) writes
    // derby.log into user.dir by default — route it into the JVM
    // scratch root so harness runs leave the checkout clean. Must be
    // set before the Derby engine first boots; harmless if a caller
    // already chose a location.
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        java.nio.file.Paths.get(Scratch.dir("derby_log"))
          .resolve("derby.log").toString)
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Plan-time size estimates for file scans are COMPRESSED bytes;
      // an UnsafeHashedRelation of the same rows is ~4x larger, so a
      // borderline fact scan (est. just under the 10 MB broadcast
      // threshold) gets broadcast and real executors die deserializing
      // a ~1 GB relation — caught by the round-7 local-cluster 10x
      // soak (q_star_join_agg / q_salted_join_agg OOMed in
      // UnsafeHashedRelation.readExternal; local[n] masks it because
      // the driver-built relation is reference-shared). Scaling the
      // estimate makes "fits the broadcast threshold" mean in-memory
      // bytes. AQE still upgrades to broadcast at runtime from ACTUAL
      // shuffle sizes, so genuinely small sides keep the fast path.
      .config("spark.sql.sources.fileCompressionFactor", "4.0")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader refuses; read as epoch-nanos long, Tables.load converts
      // to timestamp_ntz (microsecond floor, same as DuckDB's reader).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark still WRITES TimestampType as INT96 by default (Impala-era
      // compatibility), and INT96 has no usable min/max stats — a filter
      // on an engine-written timestamp column could never skip a row
      // group (measured in the round-10 layout soak; the same filter on
      // a MICROS column skips everything). Write modern micros.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Read naive parquet timestamps (isAdjustedToUTC=false) as
      // session-TZ TIMESTAMP instead of TIMESTAMP_NTZ. Under the UTC
      // session every value is identical, but the pushdown behavior is
      // not: ParquetFilters drops NTZ literals (LocalDateTime), so an
      // NTZ filter is advertised in PushedFilters yet skips NOTHING,
      // while the LTZ twin row-group-skips 80x on a date-clustered
      // layout (docs/SCALING.md round 10, re-measured round 12). This
      // makes every headline l_shipdate/o_orderdate filter actually
      // reach the reader. Engine OUTPUT parquet converts back to NTZ at
      // the Verify boundary, so cross-engine naive-timestamp semantics
      // are unchanged.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Managed (bucketed) tables land outside the repo checkout.
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      .config("spark.ui.enabled", "false")
      // Keep generated classes across queries. The iterative loops
      // (quantile narrowing passes, BPE training) plan the same shapes
      // on every call, yet under Spark's default 100-entry cache the
      // benchmark's iterative_fit recompiled 54-94 generated classes in
      // every iteration (48-60 with BPE trained on the driver), and
      // none at 1024. The conf is static: it takes effect only when
      // this builder creates the JVM's first session; spark-submit
      // users pass it with --conf.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .withExtensions(new graft.plans.GraftExtensions)
  }

  def create(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` (which must EXECUTE its plans, not just build them —
    * Spark reads this conf at physical planning) with the
    * ObjectHashAggregate sort-fallback threshold raised 128 → 256k,
    * restoring the prior value after.
    *
    * Why scoped and not session-wide: ObjectHashAggregate falls back
    * to SORT-BASED aggregation once a task's hash map holds
    * `fallbackThreshold` keys, and the fallback sorts the ENTIRE
    * remaining input — measured 44 GB of spill on a 262M-row band
    * join whose aggregate state was 125k bounded `graft_topk` heaps
    * (round 13). For aggregates whose buffers are size-capped by
    * construction the raise is pure win (state = keys-per-task ×
    * buffer cap). But the conf also governs Spark's builtin
    * TypedImperativeAggregates with UNBOUNDED buffers — exact
    * `percentile`, `collect_list`/`collect_set` — where the 128-key
    * default is the OOM guard: 256k open buffers × an unbounded value
    * domain is exactly the executor-memory cliff the default
    * protects against at high group cardinality (round-13 verdict).
    * So the session keeps Spark's default and only the call sites
    * whose aggregate state is provably bounded (the witness-capped
    * minhash index probe) opt into headroom, for exactly the span of
    * their own execution.
    */
  def withObjectAggHeadroom[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, (1 << 18).toString)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Scoped AQE off for an eager action over knob-bounded frames
    * (round 17, guide §1.2 step 3). Its one call site is the exact
    * quantiles' endgame action (`Quantiles.narrowHot`): it moves a few
    * KB through its exchange, but under AQE it pays query-stage
    * materialization (broadcast stage + shuffle stage + result stage —
    * three scheduled jobs where one suffices) and per-stage
    * re-planning; graft.Profile measured the quantile family spending
    * ~40% of wall in that driver gap. Inside the scope the action
    * plans once and runs once. Results are exact order statistics —
    * plan-shape-independent by construction. Confined to eager
    * actions inside the scope; the conf is restored before any lazy
    * plan is handed back, so callers' queries keep AQE (coalescing,
    * skew splits) untouched.
    */
  def withAdaptiveOff[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
