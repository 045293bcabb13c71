package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.operators.{Dedup, Pipeline, Quantiles, Similarity, SkewAdvisor, Temporal}
import graft.sources.{Sink, Tables}
import Soak.{Row, Run, noop, num, windowFields}

/** The [[Soak]] runner's scenarios other than `queries`. Each defines
  * its data, its steps and its row fields; docs/SCALING.md holds the
  * recorded results.
  */
private[graft] object SoakScenarios {

  // ---- skew: Zipf-hot join and aggregation keys -----------------------

  /** Bump when the zipf generator's SEMANTICS change (the
    * [[Soak.versionGate]] discipline). v2 = wrapped (not capped) Pareto
    * tail; v3 = join-free rank→key mapping (multiplicative permutation
    * of the dense key domain instead of a materialized rank table — the
    * v2 rank join's shuffle spill is what killed the 1000x decade ~25 GB
    * short of disk, VERDICT r9 item 4).
    */
  val SkewGeneratorVersion = 3

  /** The skewed twin of the x<k> soak dir: same orders, lineitem with
    * `l_orderkey` REDRAWN from the orders-key population under a
    * Zipf(1.1)-tail law (inverse-CDF of the continuous Pareto:
    * rank = ⌊u^-10⌋; rank 1 is the hottest key, ~6.7% of all rows — the
    * measured share is emitted as `skew_profile`, not assumed). The
    * standing join pipelines run UNCHANGED against it: only the fact
    * side's key histogram differs.
    */
  def materializeSkew(spark: SparkSession, k: Int, baseDir: String): String = {
    val dir = s"${Soak.root}/x${k}_zipf"
    if (Soak.versionGate(dir, "_SKEW_SCHEMA", SkewGeneratorVersion) &&
      Soak.done(dir, "lineitem")) return dir
    System.err.println(s"[skew] materializing $dir ...")
    val src = java.nio.file.Paths.get(s"$baseDir/orders.parquet")
    val dst = java.nio.file.Paths.get(s"$dir/orders.parquet")
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.list(src).forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(p.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    val orders = Tables.read(spark, s"$baseDir/orders.parquet")
    // Soak's scaled orders keys are a CLOSED FORM — copy c of the base
    // table shifts keys by c·1e8, and the base keys are dense 0..B-1 —
    // so rank→key needs no materialized table at all: dense index
    // j = (rank-1)·A mod N (A coprime to N → a bijection that scatters
    // the Zipf head pseudo-randomly), then key = (j/B)·1e8 + j%B.
    // The whole skew redraw is ONE map over lineitem: no join, no
    // shuffle, no spill.
    val baseKeys = orders.where(col("o_orderkey") < 100000000L).count()
    val nKeys = orders.count()
    val copies = nKeys / baseKeys
    // guard the closed form before trusting it (generator drift would
    // silently produce keys that don't exist in orders)
    val probe = orders.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .head()
    require(probe.getLong(0) == 0L &&
      probe.getLong(1) == (copies - 1) * 100000000L + baseKeys - 1 &&
      nKeys == copies * baseKeys,
      s"orders keys not in Soak's closed form (n=$nKeys base=$baseKeys " +
        s"min=${probe.getLong(0)} max=${probe.getLong(1)}): " +
        "rebuild the base layout or revisit the permutation mapping")
    // multiplier: Knuth's 2654435761 bumped to the next value coprime
    // with N (N = 150000·k·copies has small factors; any odd A not
    // sharing 3/5 works — computed, not assumed)
    var mult = 2654435761L % nKeys
    while (BigInt(mult).gcd(BigInt(nKeys)) != 1) mult += 1
    val li = Tables.read(spark, s"$baseDir/lineitem.parquet")
    // u in (0,1): per-row deterministic uniform; raw = floor(u^-10) is
    // the inverse-CDF Pareto tail matching Zipf s=1.1 (P(rank 1) =
    // 1 - 2^-0.1 ≈ 6.7%). The unbounded tail is WRAPPED into the key
    // domain (mod, not cap): capping would pile the entire far tail
    // (~24% of rows at 10x) onto the single capped rank, which is a
    // different — far harsher — distribution than Zipf; wrapping folds
    // it near-uniformly across all keys, preserving the head.
    val u = (pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
      lit(1000000000L)).cast("double") + lit(0.5)) / lit(1000000000.0)
    val raw = least(floor(pow(u, lit(-10.0))), lit(9.0e15)).cast("long")
    val rank = pmod(raw - lit(1L), lit(nKeys)) + lit(1L)
    val dense = pmod((rank - lit(1L)) * lit(mult), lit(nKeys))
    val key = floor(dense / lit(baseKeys)).cast("long") * lit(100000000L) +
      pmod(dense, lit(baseKeys))
    li.withColumn("l_orderkey", key)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    System.err.println(s"[skew] $dir ready (join-free v3, mult=$mult)")
    dir
  }

  /** The unsalted join with a pinned shuffle-merge strategy, same
    * aggregation as `Temporal.saltedJoinRevenue`.
    */
  private def plainRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    li.join(o.hint("shuffle_merge"), li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  /** The three answers to a Zipf-hot join key — salting, AQE
    * skew-split, and nothing — against each other and against the
    * uniform-key baseline, then the three aggregate classes under the
    * same key. Each variant is a cold pass reporting wall seconds plus
    * the task-level skew ratio. Default scale 10.
    */
  def skew(run: Run): Unit = {
    val spark = run.spark
    val skewKey = "spark.sql.adaptive.skewJoin.enabled"
    val fKey = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    val bKey = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    // ---- AGGREGATION under the same Zipf key. Three aggregate
    // classes, because "skewed groupBy" is not one phenomenon:
    //  * algebraic (sum/count) — map-side partial aggregation folds
    //    the hot key to one row per map task BEFORE the shuffle.
    //    Expectation: flat; the salted twin quantifies what plan-time
    //    salting COSTS when it isn't needed.
    //  * holistic (exact median) — percentile buffers every value of
    //    a group on ONE reducer; no mergeable partial exists, AQE
    //    cannot split an aggregation, salting cannot decompose a
    //    median. Measured beside the mergeable sketch and the
    //    value-domain narrowing.
    //  * exact distinct — Spark plans the dedup shuffle on (key,
    //    VALUE), which spreads the hot key structurally; the
    //    value-salted two-phase rewrite is the same idea made
    //    explicit. Expectation: both flat.
    def li(dir: String) = Tables.load(spark, dir, "lineitem")
    def aggSum(dir: String): DataFrame = li(dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice")).as("s"), count(lit(1)).as("n"))
    def aggSumSalted(dir: String, nSalt: Int): DataFrame = li(dir)
      .groupBy(col("l_orderkey"),
        pmod(xxhash64(col("l_linenumber"), col("l_partkey")), lit(nSalt))
          .as("__salt"))
      .agg(sum(col("l_extendedprice")).as("ps"), count(lit(1)).as("pn"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("ps")).as("s"), sum(col("pn")).as("n"))
    def aggMedian(dir: String): DataFrame = li(dir)
      .groupBy(col("l_orderkey"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
    def aggMedianSketch(dir: String): DataFrame = li(dir)
      .groupBy(col("l_orderkey"))
      .agg(expr("percentile_approx(l_extendedprice, 0.5, 100)").as("med"))
    // a per-row-distinct value (hash noise at 1e-9) forces percentile
    // to buffer every VALUE of the hot key in one reducer — the
    // regime where the mergeable sketch is REQUIRED, not just faster
    def hcValue = col("l_extendedprice") +
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(1000000L))
        .cast("double") * lit(1e-9)
    def aggMedianHC(dir: String): DataFrame = li(dir)
      .groupBy(col("l_orderkey"))
      .agg(percentile_approx(hcValue, lit(0.5), lit(100)).as("med"))
    def aggMedianHCExact(dir: String): DataFrame = li(dir)
      .groupBy(col("l_orderkey"))
      .agg(expr("percentile(l_extendedprice + cast(pmod(xxhash64(l_orderkey, l_linenumber), 1000000) as double) * 1e-9, 0.5)").as("med"))
    // exact AND memory-bounded: value-domain narrowing takes the
    // count-map for every key under the threshold and histogram
    // refinement (O(buckets) state) for the hot keys
    def aggMedianHCNarrow(dir: String): DataFrame =
      Quantiles.exactMedianAnyScale(
        li(dir).select(col("l_orderkey"), hcValue.as("__hc")),
        "l_orderkey", "__hc", hotThreshold = 1000000L)
    def aggDistinct(dir: String): DataFrame = li(dir)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_partkey")).as("nd"))
    def aggDistinctSalted(dir: String, nSalt: Int): DataFrame = li(dir)
      .groupBy(col("l_orderkey"),
        pmod(xxhash64(col("l_partkey")), lit(nSalt)).as("__salt"))
      .agg(countDistinct(col("l_partkey")).as("pd"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("pd")).as("nd"))
    // weighted twins on the same per-row-distinct value, quantity
    // weights: `sort` is the window-cumsum replay (the hot key's rows
    // sort in ONE window task), `narrow` the weighted narrowing,
    // `auto` the DEFAULT route — the cost model must pick the better
    // variant per decade
    def wmedInput(dir: String): DataFrame = li(dir)
      .select(col("l_orderkey"), hcValue.as("__hc"),
        col("l_quantity").cast("long").as("__w"))
    def aggWMedianHCSort(dir: String): DataFrame = {
      val byV = Window.partitionBy(col("l_orderkey")).orderBy(col("__hc"))
      val all = Window.partitionBy(col("l_orderkey"))
      wmedInput(dir)
        .withColumn("__cw", sum(col("__w")).over(byV))
        .withColumn("__tw", sum(col("__w")).over(all))
        .filter(col("__cw") * 2 >= col("__tw"))
        .groupBy(col("l_orderkey"))
        .agg(min(col("__hc")).as("wmed"))
    }
    def aggWMedianHC(dir: String, route: Option[Quantiles.HotRoute]) =
      Quantiles.auto(wmedInput(dir),
        "l_orderkey", "__hc", Seq(0.5), weight = Some("__w"),
        hotThreshold = 1000000L,
        route = route.getOrElse(Quantiles.HotRoute.CostAware))

    // codegen/classload warm-up on small inputs (same plan shapes,
    // different dir) so the FIRST timed variant of a shape doesn't
    // absorb compilation — without this the run order masquerades as a
    // skew effect. The joins warm on sf0.1. The quantile shapes warm on
    // the scale-1 Zipf corpus: warmed on sf0.1 instead, the first of
    // two identical weighted narrowings still read ~1.5x the second.
    val warm = Soak.testdata("sf0.1")
    noop(plainRevenue(spark, warm))
    noop(Temporal.saltedJoinRevenue(spark, warm, nSalt = 4))
    val warmSkew = materializeSkew(spark, 1,
      Soak.materialize(spark, 1, needFacts = true, needDocs = false))
    noop(aggMedianHCNarrow(warmSkew))
    noop(aggWMedianHC(warmSkew, Some(Quantiles.HotRoute.Narrow)))

    for (k <- run.scales(10)) {
      val base = Soak.materialize(spark, k, needFacts = true, needDocs = false)
      val skewed = materializeSkew(spark, k, base)
      // prime the page cache for BOTH fact layouts so variant order
      // doesn't decide who pays the disk reads
      Tables.read(spark, s"$base/lineitem.parquet").count(): Unit
      val total = Tables.read(spark, s"$skewed/lineitem.parquet").count()
      val top = Tables.read(spark, s"$skewed/lineitem.parquet")
        .groupBy("l_orderkey").count()
        .agg(max(col("count"))).head().getLong(0)
      run.emit(Seq("metric" -> "skew_profile", "scale" -> k, "rows" -> total,
        "top_key_rows" -> top, "top_share" -> num(top.toDouble / total, 4)))

      def variant(name: String, aqe: Boolean = false,
          conf: Seq[(String, String)] = Nil)(body: => Unit): Unit =
        run.step(name, Seq("metric" -> "skew", "scale" -> k, "variant" -> name),
          msg => Seq("sec" -> num(0), "task_max_ms" -> 0, "task_med_ms" -> 0,
            "ratio" -> num(0, 1), "status" -> msg)) {
          val (sec, clock, status) =
            run.withConf((skewKey -> aqe.toString) +: conf: _*)(run.cold(body))
          val (mx, md, ratio) = clock.skew()
          Seq("sec" -> num(sec), "task_max_ms" -> mx, "task_med_ms" -> md,
            "ratio" -> num(ratio, 1), "status" -> status)
        }

      variant("uniform") { noop(plainRevenue(spark, base)) }
      variant("plain") { noop(plainRevenue(spark, skewed)) }
      variant("aqe", aqe = true) { noop(plainRevenue(spark, skewed)) }
      // AQE with the split trigger TUNED to this skew: the default
      // trigger is hot > 5x median AND > 256 MB, but a 6.7%-share hot
      // key over 32 reducers is only ~3x the median partition — AQE
      // ships and does nothing (the `aqe` row measures exactly that).
      variant("aqe_tuned", aqe = true, Seq(fKey -> "2.0", bKey -> "64m")) {
        noop(plainRevenue(spark, skewed))
      }
      // The detector compares shuffle BYTES, and an identical hot key
      // lz4-compresses ~2x better than uniform keys — a 2.9x ROW skew
      // reads as 1.95x in bytes, so factor 2.0 never fires. 1.2/16m is
      // the setting the measured byte histogram says will trigger (and
      // at 100x the hot partition is smaller than the 64 MB advisory
      // chunk, so no split is even constructible).
      variant("aqe_split", aqe = true, Seq(fKey -> "1.2", bKey -> "16m")) {
        noop(plainRevenue(spark, skewed))
      }
      // the advisor's own recommendation, measured end-to-end; the
      // advise() cost is deliberately INSIDE the timing — it is part of
      // what the mitigation costs a real pipeline
      variant("aqe_advised", aqe = true) {
        val li = Tables.load(spark, skewed, "lineitem")
        val advice = SkewAdvisor.advise(
          li, Seq(col("l_orderkey")), nPartitions = 32,
          bytesPerRow = SkewAdvisor.estimateBytesPerRow(
            li.select(col("l_orderkey"), col("l_extendedprice"),
              col("l_discount"))),
          sampleFraction = 0.02)
        System.err.println(s"[skew] advisor: $advice")
        run.confScope(fKey, bKey,
          "spark.sql.adaptive.advisoryPartitionSizeInBytes") {
          advice.applyTo(spark): Unit
          noop(plainRevenue(spark, skewed))
        }
      }
      variant("salted4") {
        noop(Temporal.saltedJoinRevenue(spark, skewed, nSalt = 4))
      }
      variant("aggsum_uniform") { noop(aggSum(base)) }
      variant("aggsum_plain") { noop(aggSum(skewed)) }
      variant("aggsum_salted8") { noop(aggSumSalted(skewed, 8)) }
      variant("aggmed_uniform") { noop(aggMedian(base)) }
      variant("aggmed_plain") { noop(aggMedian(skewed)) }
      variant("aggmed_sketch") { noop(aggMedianSketch(skewed)) }
      // sketch first: the exact variant's hot-key buffer (~25 B per
      // distinct value, 40M values at 1000x) can be fatal, and a fatal
      // variant takes the context with it
      variant("aggmedhc_sketch") { noop(aggMedianHC(skewed)) }
      variant("aggmedhc_exact") { noop(aggMedianHCExact(skewed)) }
      variant("aggmedhc_narrow") { noop(aggMedianHCNarrow(skewed)) }
      variant("aggwmedhc_sort") { noop(aggWMedianHCSort(skewed)) }
      variant("aggwmedhc_narrow") {
        noop(aggWMedianHC(skewed, Some(Quantiles.HotRoute.Narrow)))
      }
      variant("aggwmedhc_auto") { noop(aggWMedianHC(skewed, None)) }
      // bracket leg: the replay re-timed AFTER auto, so an auto-vs-sort
      // gap splits into real plan cost vs within-run drift
      variant("aggwmedhc_sort2") { noop(aggWMedianHCSort(skewed)) }
      variant("aggdist_uniform") { noop(aggDistinct(base)) }
      variant("aggdist_plain") { noop(aggDistinct(skewed)) }
      variant("aggdist_salted8") { noop(aggDistinctSalted(skewed, 8)) }
      // LAST on purpose: the 16x-replicated orders side is the largest
      // sort spill of the decade — at 1000x it can hit ENOSPC, and
      // SparkOutOfMemoryError is FATAL to a local-mode context. Running
      // it last means a fatal ending costs only this row.
      variant("salted16") {
        noop(Temporal.saltedJoinRevenue(spark, skewed, nSalt = 16))
      }
    }
  }

  // ---- layout: partitioned, bucketed, sorted and Z-ordered tables -----

  // v2: sorted layout carries l_shipday DATE; v3: + l_shipts
  // session-TZ TIMESTAMP; v4: l_shipdate itself is LTZ (Soak corpus v3
  // + the inferTimestampNTZ=false flip — see Soak.GeneratorVersion)
  val LayoutGeneratorVersion = 4

  /** Builds layout `dir` (holding `tables`) with `build` unless a
    * current generator already left it complete.
    */
  private def layoutDir(dir: String, tables: String*)(build: => Unit): String = {
    if (!(Soak.versionGate(dir, "_LAYOUT_SCHEMA", LayoutGeneratorVersion) &&
        Soak.done(dir, tables: _*))) {
      System.err.println(s"[layout] materializing $dir ...")
      build
      System.err.println(s"[layout] $dir ready")
    }
    dir
  }

  /** Month-partitioned lineitem + the month dim (rank by month so a
    * `m_rank <= 3` filter is selective and survives to the dim scan).
    */
  private def materializePartitioned(spark: SparkSession, k: Int,
      baseDir: String): String = {
    val dir = s"${Soak.root}/x${k}_bymonth"
    layoutDir(dir, "lineitem", "monthdim") {
      // repartition BY the partition column so each month directory
      // gets a bounded number of files (~84 months land on 96 tasks)
      Tables.read(spark, s"$baseDir/lineitem.parquet")
        .withColumn("l_shipmonth", date_format(col("l_shipdate"), "yyyy-MM"))
        .repartition(96, col("l_shipmonth"))
        .write.partitionBy("l_shipmonth")
        .mode("overwrite").parquet(s"$dir/lineitem.parquet")
      Tables.read(spark, s"$dir/lineitem.parquet")
        .select(col("l_shipmonth")).distinct()
        .orderBy(col("l_shipmonth"))
        .withColumn("m_rank",
          row_number().over(Window.orderBy(col("l_shipmonth"))))
        .withColumnRenamed("l_shipmonth", "m_month")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/monthdim.parquet")
    }
  }

  /** Bucketed managed tables for lineitem/orders (join+agg columns
    * only — the unbucketed comparison scans the same columns through
    * parquet column pruning, so content is equivalent).
    */
  private def materializeBucketed(spark: SparkSession, k: Int,
      baseDir: String): (String, String) = {
    val liTable = s"graft_layout_li_x$k"
    val ordTable = s"graft_layout_ord_x$k"
    // The session catalog is in-memory per JVM while the warehouse
    // directory persists: data bucketed by a PREVIOUS JVM (complete
    // once its `_SUCCESS` is written) is unknown to this catalog.
    // Re-register it as an external CLUSTERED BY table over the old
    // location instead of rebucketing — the bucket id is encoded in
    // the file names, so the spec still maps files to buckets.
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    def registered(t: String, key: String): Boolean =
      spark.catalog.tableExists(t) || {
        val loc = new java.io.File(s"$warehouse/$t")
        new java.io.File(loc, "_SUCCESS").exists() && {
          val ddl = Tables.read(spark, loc.toString).schema.toDDL
          spark.sql(s"CREATE TABLE $t ($ddl) USING parquet " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO 32 BUCKETS " +
            s"LOCATION '${loc.getAbsolutePath}'")
          true
        }
      }
    if (Soak.versionGate(s"${Soak.root}/x${k}_buckets", "_LAYOUT_SCHEMA",
        LayoutGeneratorVersion) &&
      registered(liTable, "l_orderkey") && registered(ordTable, "o_orderkey"))
      return (liTable, ordTable)
    System.err.println(s"[layout] bucketing $liTable / $ordTable ...")
    // a stale location from a previous JVM blocks saveAsTable with
    // LOCATION_ALREADY_EXISTS even after DROP TABLE (the drop was a
    // no-op in this catalog) — clear it explicitly
    Seq(liTable, ordTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Soak.rmTree(new java.io.File(s"$warehouse/$t"))
    }
    Sink.writeBucketed(Tables.read(spark, s"$baseDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(32, col("l_orderkey")),
      liTable, "l_orderkey", numBuckets = 32, sortCol = Some("l_orderkey"))
    Sink.writeBucketed(Tables.read(spark, s"$baseDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(32, col("o_orderkey")),
      ordTable, "o_orderkey", numBuckets = 32, sortCol = Some("o_orderkey"))
    (liTable, ordTable)
  }

  /** Date-sorted lineitem with small row groups (the min/max-skipping
    * layout), carrying `l_shipday` / `l_shipts`: the DATE and
    * session-TZ TIMESTAMP twins of `l_shipdate` (under the engine's UTC
    * session the LTZ cast preserves every instant bit-for-bit).
    */
  private def materializeSorted(spark: SparkSession, k: Int,
      baseDir: String): String = {
    val dir = s"${Soak.root}/x${k}_bydate"
    layoutDir(dir, "lineitem") {
      Sink.writeSorted(Tables.read(spark, s"$baseDir/lineitem.parquet")
        .withColumn("l_shipday", to_date(col("l_shipdate")))
        .withColumn("l_shipts", col("l_shipdate").cast("timestamp")),
        s"$dir/lineitem.parquet", Seq("l_shipdate"), numFiles = 32)
    }
  }

  /** Events rewritten through the first-ingest normalization pass
    * (micros session-TZ TIMESTAMP, range-clustered on `ts`, 1 MB row
    * groups). The raw comparison point is the Soak-materialized events
    * table: the k-copies expansion interleaves every timestamp into
    * every row group, so its window filter must read everything.
    */
  private def materializeEventsNorm(spark: SparkSession, k: Int,
      baseDir: String): String = {
    val dir = s"${Soak.root}/x${k}_events_norm"
    layoutDir(dir, "events") {
      graft.sources.Ingest.normalizeTimestamps(spark,
        s"$baseDir/events.parquet", s"$dir/events.parquet",
        tsCols = Seq("ts"), numFiles = 32): Unit
    }
  }

  /** Events Z-ORDERED on (user_id, event time): the Morton interleave
    * of both filter dimensions min/max-scaled to a shared 16-bit budget
    * (Sink.zValue). Built FROM the normalized layout so the comparison
    * is layout-vs-layout, never type-vs-type.
    */
  private def materializeEventsZorder(spark: SparkSession, k: Int,
      normDir: String): String = {
    val dir = s"${Soak.root}/x${k}_events_zorder"
    layoutDir(dir, "events") {
      val e = Tables.read(spark, s"$normDir/events.parquet")
      val tMicros = unix_micros(col("ts"))
      val mm = e.agg(min(col("user_id")), max(col("user_id")),
        min(tMicros), max(tMicros)).head()
      def scale(c: Column, lo: Long, hi: Long) =
        if (hi == lo) lit(0L)
        else ((c - lit(lo)) * lit(65535L) / lit(hi - lo)).cast("long")
      val z = Sink.zValue(
        scale(col("user_id"), mm.getLong(0), mm.getLong(1)),
        scale(tMicros, mm.getLong(2), mm.getLong(3)), bits = 16)
      Sink.writeZOrderedBy(e, s"$dir/events.parquet", z, numFiles = 32)
    }
  }

  /** Star-ish month join: fact x month dim filtered to the first 3
    * months. On the partitioned layout the dim filter reaches the fact
    * scan as a dynamicpruning partition filter.
    */
  private def monthJoin(spark: SparkSession, factDf: DataFrame,
      dimPath: String): DataFrame = {
    val dim = Tables.read(spark, dimPath).filter(col("m_rank") <= 3)
    factDf.join(dim, factDf("l_shipmonth") === dim("m_month"))
      .groupBy(col("m_month"))
      .agg(round(sum(col("l_extendedprice")), 2).as("rev"),
        count(lit(1)).as("n"))
      .orderBy(col("m_month"))
  }

  private def revenueJoin(li: DataFrame, o: DataFrame): DataFrame =
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))

  private def keyAgg(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice")).as("s"), count(lit(1)).as("n"))

  /** A one-month window over `c`, aggregated so the scan is all that costs. */
  private def windowScan(li: DataFrame, c: String, lo: Any, hi: Any): DataFrame =
    li.filter(col(c) >= lit(lo) && col(c) < lit(hi))
      .agg(round(sum(col("l_extendedprice")), 2).as("rev"),
        count(lit(1)).as("n"))

  private def tsWindowScan(li: DataFrame) =
    windowScan(li, "l_shipdate", "1997-03-01", "1997-04-01")
  private def dayWindowScan(li: DataFrame) =
    windowScan(li, "l_shipday", java.sql.Date.valueOf("1997-03-01"),
      java.sql.Date.valueOf("1997-04-01"))
  private def tsLtzWindowScan(li: DataFrame) =
    windowScan(li, "l_shipts", "1997-03-01", "1997-04-01")

  /** An 8-hour event-time window out of the one-month corpus (~1/90
    * selectivity); `users` adds the narrow user band of the
    * CONJUNCTIVE two-dimension filter, where only a Z-ordered layout
    * can skip on both predicates.
    */
  private def eventsScan(e: DataFrame, users: Boolean): DataFrame = {
    val window = col("ts") >= lit("2024-01-15 00:00:00") &&
      col("ts") < lit("2024-01-15 08:00:00")
    e.filter(if (users) col("user_id") >= 100L && col("user_id") < 200L &&
        window else window)
      .agg(round(sum(col("value")), 2).as("v"), count(lit(1)).as("n"))
  }

  /** What the write-time layout levers buy on materialized data, each
    * against its unorganized baseline, with input rows/bytes, shuffle
    * bytes and the executed plan's exchange count per variant:
    *
    *  1. PARTITIONED fact + month dim: `dpp_on` (runtime pruning),
    *     `dpp_off` (pruning disabled), `part_static` (literal IN on
    *     the partition column), `unpart` (the unpartitioned base).
    *  2. BUCKETED join/agg: `join_bucketed*` / `agg_bucketed` vs
    *     their unbucketed twins.
    *  3. SORT-CLUSTERED scan: a one-month predicate over the
    *     date-sorted layout through the ship-date timestamp, its DATE
    *     twin and its session-TZ TIMESTAMP twin.
    *  4-5. Event-time normalization and Z-order: the same window (and
    *     the 2-D filter) against raw, time-clustered and Z-ordered
    *     events.
    *
    * Default scale 10. A step-filtered run materializes (and primes)
    * only the layouts its variants touch — at 1000x the bucketed build
    * alone is a 600M-row sort a scan-only run must not pay.
    */
  def layout(run: Run): Unit = {
    val spark = run.spark
    def countExchanges(df: DataFrame): Int =
      graft.plans.PlanLint.walk(df.queryExecution.executedPlan).count {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
        case _ => false
      }
    def variant(name: String, k: Int, conf: (String, String)*)
        (build: => DataFrame): Unit =
      run.step(name, Seq("metric" -> "layout", "scale" -> k, "variant" -> name),
        msg => Seq("sec" -> num(0), "input_rows" -> 0, "input_mb" -> num(0, 1),
          "shuffle_mb" -> num(0, 1), "exchanges" -> -1, "status" -> msg)) {
        var exchanges = -1
        // the conf covers PLANNING and execution
        val (sec, clock, status) = run.withConf(conf: _*)(run.cold {
          val df = build
          noop(df)
          exchanges = countExchanges(df)
        })
        Seq("sec" -> num(sec), "input_rows" -> clock.inputRows.get(),
          "input_mb" -> num(clock.inputBytes.get() / 1e6, 1),
          "shuffle_mb" -> num(clock.shuffleWriteBytes.get() / 1e6, 1),
          "exchanges" -> exchanges, "status" -> status)
      }

    // codegen/classload warm-up on sf0.1 so the first timed variant
    // doesn't absorb compilation
    val warm = Soak.testdata("sf0.1")
    val warmLi = Tables.read(spark, s"$warm/lineitem.parquet")
    noop(revenueJoin(warmLi, Tables.read(spark, s"$warm/orders.parquet")))
    noop(keyAgg(warmLi))
    noop(tsWindowScan(warmLi))
    noop(dayWindowScan(warmLi.withColumn("l_shipday", to_date(col("l_shipdate")))))
    noop(tsLtzWindowScan(warmLi.withColumn("l_shipts",
      col("l_shipdate").cast("timestamp"))))
    noop(eventsScan(Tables.read(spark, s"$warm/events.parquet"), users = false))

    // unpart reads the UNpartitioned base but joins the month dim the
    // partitioned layout materializes, so it stays in needPart
    val needPart = Seq("dpp_on", "dpp_off", "part_static", "unpart")
      .exists(run.wants)
    val needBuck = Seq("join_bucketed", "join_bucketed_hash",
      "join_bucketed_ordered", "agg_bucketed").exists(run.wants)
    val needSort = run.only.isEmpty || run.only.exists(_.startsWith("scan_sorted"))
    val needEvents = run.only.isEmpty || run.only.exists(_.startsWith("scan_events"))

    for (k <- run.scales(10)) {
      val base = Soak.materialize(spark, k, needFacts = true, needDocs = false)
      def read(dir: String, table: String) =
        Tables.read(spark, s"$dir/$table.parquet")
      val part = if (needPart) materializePartitioned(spark, k, base) else ""
      val (liT, ordT) =
        if (needBuck) materializeBucketed(spark, k, base) else ("", "")
      val sorted = if (needSort) materializeSorted(spark, k, base) else ""
      val eventsNorm =
        if (needEvents) materializeEventsNorm(spark, k, base) else ""
      // Prime the page cache for every layout so variant order doesn't
      // decide who pays the disk reads. NOT count(): parquet answers
      // count from footer metadata without touching a data page — the
      // first layout-soak run recorded a 2.6x dpp_off-vs-unpart gap
      // that was pure cold-disk order. Hashing the measured columns
      // forces their pages through the cache.
      def prime(df: DataFrame, cols: String*): Unit =
        df.agg(sum(hash(cols.map(col): _*).cast("long"))).collect(): Unit
      prime(read(base, "lineitem"),
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")
      prime(read(base, "orders"), "o_orderkey", "o_orderpriority")
      if (needPart) prime(read(part, "lineitem"), "l_extendedprice", "l_shipmonth")
      if (needSort) prime(read(sorted, "lineitem"),
        "l_extendedprice", "l_shipdate", "l_shipday", "l_shipts")
      if (needEvents) {
        prime(read(base, "events"), "ts", "value")
        prime(read(eventsNorm, "events"), "ts", "value")
      }
      if (needBuck) {
        prime(spark.table(liT), "l_orderkey", "l_extendedprice", "l_discount")
        prime(spark.table(ordT), "o_orderkey", "o_orderpriority")
      }
      // profile: prove the selections are non-vacuous before trusting
      // the variant rows (3 months of ~84; a ~1-month date window)
      val dimPath = s"$part/monthdim.parquet"
      val (nMonths, monthRows) =
        if (needPart) (read(part, "monthdim").count(),
          monthJoin(spark, read(part, "lineitem"), dimPath)
            .agg(sum(col("n"))).head().getLong(0))
        else (-1L, -1L)
      run.emit(Seq("metric" -> "layout_profile", "scale" -> k,
        "rows" -> read(base, "lineitem").count(), "months" -> nMonths,
        "month3_rows" -> monthRows,
        "window_rows" -> tsWindowScan(read(base, "lineitem"))
          .head().getLong(1)))

      // ---- 1. partition pruning
      val factPart = if (needPart) read(part, "lineitem") else null
      variant("dpp_on", k) { monthJoin(spark, factPart, dimPath) }
      variant("dpp_off", k,
        "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
        monthJoin(spark, factPart, dimPath)
      }
      variant("part_static", k) {
        val months = Tables.read(spark, dimPath).filter(col("m_rank") <= 3)
          .select("m_month").collect().map(_.getString(0)).toSeq
        factPart.filter(col("l_shipmonth").isin(months: _*))
          .groupBy(col("l_shipmonth").as("m_month"))
          .agg(round(sum(col("l_extendedprice")), 2).as("rev"),
            count(lit(1)).as("n"))
          .orderBy(col("m_month"))
      }
      variant("unpart", k) {
        monthJoin(spark, read(base, "lineitem").withColumn("l_shipmonth",
          date_format(col("l_shipdate"), "yyyy-MM")), dimPath)
      }

      // ---- 2. bucketed join / agg
      val liBase = read(base, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val oBase = read(base, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      variant("join_unbucketed", k) { revenueJoin(liBase, oBase) }
      // Bucketing removes the EXCHANGE, not the SORT: since Spark 3.0 a
      // bucketed scan does not report per-bucket ordering, so the
      // sort-merge join re-sorts each bucket IN-TASK — at 1000x that
      // sort is ~19M rows/task and killed an 8g heap. The two escapes
      // are measured alongside: a shuffle_hash hint (no exchange AND no
      // sort) and the legacy outputOrdering conf (SMJ trusts the sortBy
      // when every bucket is one file).
      variant("join_bucketed", k) {
        revenueJoin(spark.table(liT), spark.table(ordT))
      }
      variant("join_bucketed_hash", k) {
        revenueJoin(spark.table(liT), spark.table(ordT).hint("shuffle_hash"))
      }
      variant("join_bucketed_ordered", k,
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
        revenueJoin(spark.table(liT), spark.table(ordT))
      }
      variant("agg_unbucketed", k) { keyAgg(liBase) }
      variant("agg_bucketed", k) { keyAgg(spark.table(liT)) }

      // ---- 3. sort-clustered scan
      variant("scan_unsorted", k) { tsWindowScan(read(base, "lineitem")) }
      variant("scan_sorted_ts", k) { tsWindowScan(read(sorted, "lineitem")) }
      variant("scan_sorted_date", k) { dayWindowScan(read(sorted, "lineitem")) }
      variant("scan_sorted_tstz", k) { tsLtzWindowScan(read(sorted, "lineitem")) }

      // ---- 4. event-time normalization: input_rows is the claim
      variant("scan_events_raw", k) {
        eventsScan(read(base, "events"), users = false)
      }
      variant("scan_events_norm", k) {
        eventsScan(read(eventsNorm, "events"), users = false)
      }

      // ---- 5. Z-order: the 2-D conjunctive filter against raw (skips
      // nothing), time-clustered (skips the time half) and Z-ordered
      // (skips both)
      if (needEvents) {
        val eventsZ = materializeEventsZorder(spark, k, eventsNorm)
        prime(read(eventsZ, "events"), "user_id", "ts", "value")
        for ((v, dir) <- Seq("raw" -> base, "norm" -> eventsNorm,
            "zorder" -> eventsZ))
          variant(s"scan_events_2d_$v", k) {
            eventsScan(read(dir, "events"), users = true)
          }
      }
    }
  }

  // ---- index: the probe-cost climb under replayed appends -------------

  /** Index lifecycle under a rolling ingest: build the index from
    * history, append the same batch ten times (the at-least-once replay
    * worst case — every row a duplicate), time the probe after each
    * append, then compact and time it once more. Probe wall should
    * climb with accumulated appends and return to ~baseline after
    * compaction (the specs pin result identity; this pins the cost).
    * Steps are the families `mh` and `gram`; each probe is StealGate's
    * best-of (the round-14 gram rows swung 0.84→7.88 s between adjacent
    * appends purely with the host's steal counter). Default scale 10.
    */
  def index(run: Run): Unit = {
    val spark = run.spark
    val appends = 10
    def parquetFiles(path: String): Int =
      Option(new java.io.File(path).listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    for (k <- run.scales(10)) {
      val dir = Soak.materialize(spark, k, needFacts = false)
      val docs = Tables.load(spark, dir, "documents")
      val history = docs.filter(col("doc_id") % 4 === 1)
      val batch = docs.filter(col("doc_id") % 4 === 2)
      val probeDocs = docs.filter(col("doc_id") % 4 === 0)
      /** One family: `build`, then the probe after each lifecycle step,
        * reporting `probe`'s match count as `nName` and the index's file
        * count as `fName`.
        */
      def family(fam: String, nName: String, fName: String)
          (build: => Unit, append: => Unit, compact: => Unit)
          (probe: => Long, files: => Int): Unit = if (run.wants(fam)) {
        def measure(step: String)(before: => Unit): Unit =
          run.step(fam, Seq("metric" -> "index_soak", "family" -> fam,
            "scale" -> k, "step" -> step)) {
            before
            val w = StealGate.bestOf(probe)
            Seq("probe_sec" -> num(w.sec), nName -> w.value, fName -> files) ++
              windowFields(w)
          }
        build
        measure("base")(())
        for (i <- 1 to appends) measure(s"append_$i")(append)
        measure("compacted")(compact)
      }
      val mh = Scratch.dir(s"index_soak_mh_x$k")
      family("mh", "pairs", "band_files")(
        Dedup.writeMinhashIndex(history, mh),
        Dedup.appendToMinhashIndex(batch, mh),
        Dedup.compactMinhashIndex(spark, mh))(
        Dedup.probeMinhashIndex(probeDocs,
          Tables.read(spark, s"$mh/bands.parquet"),
          Tables.read(spark, s"$mh/sigs.parquet"), threshold = 0.5).count(),
        parquetFiles(s"$mh/bands.parquet"))
      val gr = Scratch.dir(s"index_soak_gram_x$k")
      family("gram", "spans", "gram_files")(
        Dedup.writeGramIndex(history, gr),
        Dedup.appendToGramIndex(batch, gr),
        Dedup.compactGramIndex(spark, gr))(
        Dedup.probeGramIndex(probeDocs,
          Tables.read(spark, s"$gr/grams.parquet")).count(),
        parquetFiles(s"$gr/grams.parquet"))
    }
  }

  // ---- pipe: recompute report vs landed stage frames ------------------

  /** The materialized-stage-frames claim: the recompute report
    * (`pipe_report`) costs about one pipeline run because Catalyst does
    * not share subplans across union branches, while the production
    * shape — land s1–s6 once ([[Pipeline.materializeStageFrames]]),
    * aggregate the landed frames ([[Pipeline.llmReportFrom]]) — should
    * cost a small fraction of a run. Steps, each StealGate's best-of:
    * `pipeline` (the baseline "one run"), `report` (expected ≈
    * pipeline), `mat` (the run that LANDS its frames), `report_mat`
    * (the claim: ≤ ~10% of pipeline). Default scale 10.
    */
  def pipe(run: Run): Unit = {
    val spark = run.spark
    for (k <- run.scales(10)) {
      val dir = Soak.materialize(spark, k, needFacts = false)
      val secs = scala.collection.mutable.Map.empty[String, Double]
      var stages: Option[String] = None
      def timed(step: String, before: => Unit = ())(body: => Unit): Unit =
        run.step(step, Seq("metric" -> "pipe_soak", "scale" -> k, "step" -> step)) {
          before
          val w = StealGate.bestOf(body)
          secs(step) = w.sec
          Seq("sec" -> num(w.sec)) ++ windowFields(w)
        }
      def land(): String = Pipeline.materializeStageFrames(spark, dir)
      timed("pipeline")(noop(Pipeline.llmCorpus(spark, dir)))
      timed("report")(noop(Pipeline.llmReport(spark, dir)))
      timed("mat") { stages = Some(land()) }
      // a filtered run without `mat` lands the frames untimed first
      timed("report_mat", { if (stages.isEmpty) stages = Some(land()) })(
        noop(Pipeline.llmReportFrom(spark, dir, stages.get)))
      for (p <- secs.get("pipeline"); rm <- secs.get("report_mat"))
        run.emit(Seq("metric" -> "pipe_soak", "scale" -> k, "step" -> "ratio",
          "report_mat_over_pipeline" -> num(rm / p, 4)))
    }
  }

  // ---- stream: sustained micro-batch throughput -----------------------

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** rate source → the events shape the EventStream transforms expect;
    * `zipf` draws `user_id` Zipf(1.1) over the 100k-key domain (the
    * skew scenario's inverse-CDF: rank 1 carries ~6.7% of all rows), the
    * hot-key regime for keyed STREAMING state.
    */
  private def rateEvents(spark: SparkSession, rps: Long,
      zipf: Boolean = false): DataFrame = {
    val u = (pmod(xxhash64(col("value")), lit(1000000000L)).cast("double") +
      lit(0.5)) / lit(1000000000.0)
    val raw = least(floor(pow(u, lit(-10.0))), lit(9.0e15)).cast("long")
    spark.readStream.format("rate")
      .option("rowsPerSecond", rps.toString)
      .option("numPartitions", "32")
      .load()
      .select(col("timestamp").as("ts"),
        (if (zipf) pmod(raw - lit(1L), lit(100000L))
         else pmod(col("value"), lit(100000L))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("cart"), lit("purchase")),
          (pmod(col("value"), lit(4L)) + 1).cast("int")).as("event_type"),
        pmod(col("value"), lit(97L)).cast("double").as("value"),
        col("value").as("event_id"))
  }

  /** Drives the EventStream operators from a saturating `rate` source
    * for a fixed wall window and reports SUSTAINED rows/second per
    * pipeline (mean over non-empty micro-batches after the first —
    * batch 0 pays plan compile + codegen), state sizes from the last
    * progress with state metrics, the per-batch state COMMIT latency
    * (the synchronous checkpoint tax, batch 0 dropped) and the
    * hot-partition task ratio.
    *
    * Every STATEFUL pipeline runs under the in-memory
    * HDFSBackedStateStoreProvider and under RocksDB with changelog
    * checkpointing off and on (RocksDB state lives off-heap — the
    * 100 TB pipeline's keyed state does not fit a heap). The closing
    * `state_blowup_dedup` runs ONLY under RocksDB with an UNBOUNDED key
    * domain, because the in-memory provider heap-OOMs on it (r6), and
    * reports state rows and on-disk SST bytes.
    *
    * Args: `[secs] [rps] [blowupSecs] [steps]`, defaults 20, 4000000,
    * 3×secs; steps are pipeline names.
    */
  def stream(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    import graft.streaming.EventStream
    import org.apache.spark.sql.streaming.Trigger
    val secs = run.args.lift(0).filter(_.nonEmpty).map(_.toInt).getOrElse(20)
    val rps = run.args.lift(1).filter(_.nonEmpty).map(_.toLong).getOrElse(4000000L)
    val blowupSecs = run.args.lift(2).filter(_.nonEmpty).map(_.toInt)
      .getOrElse(secs * 3)

    def pipeline(name: String, build: () => DataFrame, rocksDb: Boolean,
        runSecs: Int, outputMode: String = "append",
        changelog: Boolean = false, zipf: Boolean = false): Unit = {
      val label = if (rocksDb) "rocksdb" else "hdfs"
      run.step(name, Seq("metric" -> "stream_bench", "pipeline" -> name,
          "provider" -> label, "changelog" -> (if (changelog) "on" else "off"),
          "zipf" -> zipf)) {
        val conf = (if (rocksDb) Seq(ProviderKey -> EventStream.RocksDbProvider)
          else Nil) :+ (ChangelogKey -> changelog.toString)
        run.withConf(conf: _*)(run.tasks { clock =>
          val q = build().writeStream.format("noop")
            .trigger(Trigger.ProcessingTime("1 second"))
            .option("checkpointLocation",
              s"/tmp/graft_streambench/$name-$label-${System.nanoTime()}")
            .outputMode(outputMode)
            .start()
          val progress =
            try { Thread.sleep(runSecs * 1000L); q.recentProgress.toSeq }
            finally q.stop()
          val rates = progress.drop(1).filter(_.numInputRows > 0)
            .map(_.processedRowsPerSecond)
          val lastState = progress.reverse
            .flatMap(_.stateOperators.toSeq).headOption
          val commits = progress.drop(1).flatMap(_.stateOperators.toSeq)
            .map(_.commitTimeMs)
          run.drain()
          val (taskMax, taskMed, taskRatio) = clock.skew()
          Seq(
            "rows_per_sec" -> num(if (rates.isEmpty) 0.0 else rates.sum / rates.size, 0),
            "batches" -> progress.size,
            "rows" -> progress.map(_.numInputRows).sum,
            "state_rows" -> lastState.map(_.numRowsTotal).getOrElse(0L),
            "state_mem_bytes" -> lastState.map(_.memoryUsedBytes).getOrElse(0L),
            "sst_bytes" -> lastState
              .flatMap(s => Option(s.customMetrics.get("rocksdbSstFileSize")))
              .map(_.longValue).getOrElse(0L),
            "commit_ms_mean" -> num(
              if (commits.isEmpty) 0.0 else commits.sum.toDouble / commits.size, 0),
            "commit_ms_max" -> (if (commits.isEmpty) 0L else commits.max),
            "task_max_ms" -> taskMax, "task_med_ms" -> taskMed,
            "task_ratio" -> num(taskRatio, 1))
        })
      }
    }

    def events = rateEvents(spark, rps)
    def zEvents = rateEvents(spark, rps, zipf = true)
    def purchases(e: DataFrame) = e.filter(col("event_type") === "purchase")
    def clicks(e: DataFrame) = e.filter(col("event_type") === "click")
    def evs(e: DataFrame) = e.select(col("user_id"), col("ts"), col("value"))
      .as[EventStream.Ev]
    // Stream-stream interval join: BOTH sides buffer state until their
    // watermark passes the join window. Purchases join same-user clicks
    // of an INDEPENDENT rate stream within the preceding 5 seconds;
    // 10s/20s watermarks keep the buffered window bounded inside the
    // run. `preagg` pre-aggregates the purchase side into 5 s buckets
    // first (chained stateful operators) — the semantic mitigation for
    // a hot key.
    def join(p: DataFrame, c: DataFrame) = EventStream.purchaseClickJoin(
      purchases(p), clicks(c), window = "5 SECONDS",
      pWatermark = "10 seconds", cWatermark = "20 seconds")
    def preagg(p: DataFrame, c: DataFrame) = EventStream.purchaseClickJoinPreAgg(
      purchases(p), clicks(c), bucket = "5 seconds", window = "5 SECONDS",
      pWatermark = "10 seconds", cWatermark = "20 seconds")

    // Watermarks short enough that window state stays bounded inside
    // the run (the rate source's ts is wall-clock NOW). stateful=false
    // pipelines skip the RocksDB passes (no state store in the plan).
    val uniform: Seq[(String, Boolean, () => DataFrame)] = Seq(
      ("passthrough_projection", false, () => events
        .withColumn("is_buy", (col("event_type") === "purchase").cast("int"))),
      ("tumbling_window_agg", true, () =>
        EventStream.tumblingCounts(events, "10 seconds", "5 seconds")),
      ("windowed_distinct_hll", true, () =>
        EventStream.windowedDistinctUsers(events, "10 seconds", "5 seconds")),
      // per-window state is ONE GK sketch, so the latency-quantile
      // monitor costs the same state at any event cardinality
      ("windowed_percentile", true, () =>
        EventStream.windowedPercentiles(events, Seq(0.5, 0.9, 0.99),
          10000, "10 seconds", "5 seconds")),
      // Bounded key domain (1M) so duplicates occur and watermark state
      // stays ~1M entries; an all-unique key is state_blowup_dedup's
      // regime
      ("dedup_within_watermark", true, () =>
        EventStream.dedupWithinWatermark(
          events.withColumn("dedup_key", pmod(col("event_id"), lit(1000000L))),
          Seq("dedup_key"), "5 seconds")),
      ("stateful_sessionize", true, () =>
        EventStream.sessionizeStateful(evs(events)).toDF()),
      ("stateful_ewma", true, () => EventStream.ewmaStateful(evs(events)).toDF()),
      ("stream_stream_join", true, () => join(events, rateEvents(spark, rps))),
      // LEFT OUTER twin: unmatched purchases emit only once the click
      // watermark proves no match can arrive — the extra outer state
      ("stream_stream_left_join", true, () =>
        EventStream.purchaseClickLeftJoin(purchases(events),
          clicks(rateEvents(spark, rps)), window = "5 SECONDS",
          pWatermark = "10 seconds", cWatermark = "20 seconds")),
      // the hot-key mitigation's baseline cost when no key is hot
      ("stream_stream_join_preagg", true, () =>
        preagg(events, rateEvents(spark, rps))))
    for ((name, stateful, build) <- uniform) {
      pipeline(name, build, rocksDb = false, secs)
      if (stateful) {
        pipeline(name, build, rocksDb = true, secs)
        pipeline(name, build, rocksDb = true, secs, changelog = true)
      }
    }

    // The same stateful shapes under a Zipf(1.1) HOT KEY: rank 1
    // carries ~6.7% of every micro-batch into one state-store
    // partition; task_ratio is the hot-partition drag. RocksDB runs
    // with changelog on — the deployment shape SCALING.md recommends.
    val hot: Seq[(String, () => DataFrame)] = Seq(
      ("dedup_within_watermark", () => EventStream.dedupWithinWatermark(
        zEvents.withColumn("dedup_key", col("user_id")),
        Seq("dedup_key"), "5 seconds")),
      ("stateful_sessionize", () =>
        EventStream.sessionizeStateful(evs(zEvents)).toDF()),
      // hot key on the purchase side only: measured to commit NO batch
      // within 120 s under either provider — the hot key's join-state
      // entry list grows with every buffered purchase and each
      // probe/cleanup walks it. The boundary row is the measurement.
      ("stream_stream_join", () => join(zEvents, rateEvents(spark, rps))),
      ("stream_stream_join_preagg", () => preagg(zEvents, rateEvents(spark, rps))),
      // hot key on BOTH sides: the rank-1 user's output is purchases x
      // in-window clicks — QUADRATIC in the key's share; no state store
      // or salt fixes an output that large
      ("stream_stream_join_hot2", () => join(zEvents, zEvents)),
      // bucketing the purchase side caps the hot key's left cardinality,
      // so output per hot key drops to buckets x clicks
      ("stream_stream_join_preagg_hot2", () => preagg(zEvents, zEvents)))
    for ((name, build) <- hot) {
      pipeline(name, build, rocksDb = false, secs, zipf = true)
      pipeline(name, build, rocksDb = true, secs, changelog = true, zipf = true)
    }

    // State-exceeds-heap: every event a NEW key carrying a ~770-byte
    // INCOMPRESSIBLE payload (12 chained sha2 digests — a repeated
    // string would vanish under RocksDB's block compression), latest
    // value per key in Update mode. A FIXED 200k rows per batch: the
    // plain rate source grows its catch-up batches without bound once
    // processing lags, so a long run commits almost nothing. State
    // grows ~165 MB/batch with no expiry; sst_bytes vs state_mem_bytes
    // is the heap-decoupling proof, and the two changelog settings'
    // commit_ms columns the checkpoint comparison.
    def blowup(): DataFrame =
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "200000")
        .option("numPartitions", "32")
        .load()
        .select(col("value").as("event_id"))
        .withColumn("payload", concat((0 until 12).map(i =>
          sha2(concat(col("event_id").cast("string"), lit(s"_$i")), 256)): _*))
        .groupBy(col("event_id"))
        .agg(last(col("payload")).as("payload"), count(lit(1)).as("n"))
    for (changelog <- Seq(false, true))
      pipeline("state_blowup_dedup", () => blowup(), rocksDb = true,
        blowupSecs, outputMode = "update", changelog = changelog)

    run.emit(Seq("metric" -> "stream_total", "secs_each" -> secs,
      "source_rps" -> rps, "blowup_secs" -> blowupSecs))
  }

  // ---- median: the ObjectHashAggregate fallback-threshold trade --------

  /** Exact `percentile` grouped by the HIGH-cardinality `user_id`
    * (~1.5k groups/task at 10x), once under the session default (128
    * keys before a task degrades to sort-based aggregation) and once
    * under the session-wide 256k raise, which holds one open
    * value-buffer per group in memory first. Results must be identical;
    * the default leg finishing comfortably validates the engine's
    * posture (the default session-wide; the raise only in the plans of
    * provably-bounded aggregates, `Dedup.probeMinhashIndex`). Legs
    * `default_128`, `raised_256k`. Default scale 10.
    */
  def median(run: Run): Unit = {
    val spark = run.spark
    for (k <- run.scales(10)) {
      val dir = Soak.materialize(spark, k, needFacts = false)
      val events = Tables.load(spark, dir, "events")
      // prime the page cache on the measured columns so the first leg
      // doesn't pay the cold IO the second leg skips
      events.agg(sum(hash(col("user_id"), col("value")).cast("long")))
        .collect(): Unit
      val legs = scala.collection.mutable.Map.empty[String, (Double, Long, Long)]
      def leg(name: String, raise: Boolean): Unit =
        run.step(name, Seq("metric" -> "median_edge", "scale" -> k, "leg" -> name)) {
          spark.catalog.clearCache()
          def body = {
            val t0 = System.nanoTime()
            val row = events.groupBy(col("user_id"))
              .agg(expr("percentile(value, 0.5)").as("med"), count(lit(1)).as("n"))
              .agg(count(lit(1)).as("groups"),
                coalesce(sum(hash(col("user_id"), round(col("med"), 6), col("n"))
                  .cast("long")), lit(0L)).as("h"))
              .head()
            ((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1))
          }
          val r = if (!raise) body else run.withConf(
            SQLConf.OBJECT_AGG_SORT_BASED_FALLBACK_THRESHOLD.key ->
              Dedup.ProbeFallbackThreshold.toString)(body)
          legs(name) = r
          Seq("sec" -> num(r._1), "groups" -> r._2)
        }
      leg("default_128", raise = false)
      leg("raised_256k", raise = true)
      for (d <- legs.get("default_128"); r <- legs.get("raised_256k"))
        run.step("ratio_default_over_raised", Seq("metric" -> "median_edge",
            "scale" -> k, "leg" -> "ratio_default_over_raised")) {
          require(d._2 == r._2 && d._3 == r._3,
            s"threshold changed RESULTS: default $d vs raised $r")
          Seq("x" -> num(d._1 / r._1))
        }
    }
  }

  // ---- pq: codebook quality ---------------------------------------------

  /** Recall@k of the deterministic sample codebook vs k-means-trained
    * codebooks at several training depths, per corpus: WHERE trained
    * codebooks win (they minimize MSE by construction; recall follows
    * only when the corpus is large enough that codeword placement, not
    * sampling luck, dominates). Reads the three testdata scale factors
    * (no scales). Steps are the row variants.
    */
  def pq(run: Run): Unit = {
    val spark = run.spark
    val k = Similarity.TopK
    def sq(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, v) => acc + v)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (dir <- Seq("sf0.001", "sf0.01", "sf0.1").map(Soak.testdata)) {
      val emb = Tables.load(spark, dir, "embeddings")
      /** Exact top-k neighbours of the first `nq` vectors. */
      def exactTopK(nq: Long): Set[(Long, Long)] = {
        val q = emb.filter(col("vec_id") < nq)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))
        pairs(emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .withColumn("d", sq(col("q_emb"), col("embedding")))
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= k))
      }
      lazy val exact = exactTopK(Similarity.NumQueries)
      def explode16 = Similarity.pqSubvectors(emb, 4, 16)
      /** Query-BLIND sample codebook: codewords drawn past the first
        * `nq` ids — the deployment-honest baseline (indexes are built
        * before queries).
        */
      def blind(exploded: DataFrame, nq: Long) = exploded
        .filter(col("vec_id") >= nq && col("vec_id") < nq + 16)
        .select(col("j"), (col("vec_id") - nq).cast("int").as("c"),
          col("sv").as("cw"))
      val n = emb.count()
      def variant(name: String)(body: => Row): Unit =
        run.step(name, Seq("metric" -> "pq_edge", "dir" -> dir, "n_vecs" -> n,
          "variant" -> name))(body)
      def recall(df: => DataFrame): Row =
        Seq("recall" -> num((exact & pairs(df)).size.toDouble / exact.size))

      variant("sample16")(recall(Similarity.pqTopK(spark, dir)))
      variant("sample16_blind") {
        val ex = explode16
        recall(Similarity.pqAdcTopK(ex, blind(ex, Similarity.NumQueries), k, 4, None))
      }
      for (iters <- Seq(1, 10, 30)) variant(s"trained_iter$iters") {
        val ex = explode16
        recall(Similarity.pqAdcTopK(ex,
          Similarity.pqTrainedCodebook(ex, 4, 16, maxIter = iters), k, 4, None))
      }
      for (nCode <- Seq(32, 64)) variant(s"trained_c$nCode") {
        val ex = explode16
        recall(Similarity.pqAdcTopK(ex,
          Similarity.pqTrainedCodebook(ex, 4, nCode), k, 4, None))
      }
      // gate calibration: the sim_pq_trained verdict margins at its
      // actual query width — trained hits vs query-blind sample hits
      // over nq·k slots, plus the verdict row itself
      variant("gate64") {
        val nq = 64
        val exact64 = exactTopK(nq)
        val ex = explode16
        val tHits = (exact64 & pairs(Similarity.pqAdcTopK(ex,
          Similarity.pqTrainedCodebook(ex, 4, 16), k, 4, None, nq))).size
        val sHits = (exact64 &
          pairs(Similarity.pqAdcTopK(ex, blind(ex, nq), k, 4, None, nq))).size
        val verdicts = Similarity.pqTrainedGate(spark, dir).collect()(0)
        Seq("slots" -> exact64.size, "trained_hits" -> tHits,
          "blind_hits" -> sHits,
          "trained_ok" -> verdicts.getAs[Boolean]("trained_ok"),
          "trained_ge_sample" -> verdicts.getAs[Boolean]("trained_ge_sample"))
      }
      // trained coarse quantizer held constant, trained vs query-blind
      // PQ codebook inside the composed index — the margins
      // sim_ivfpq_trained's verdicts rest on
      variant("ivfpq_gate64") {
        val st = Similarity.ivfpqTrainedStats(spark, dir).collect()(0)
        Seq("n_queries" -> st.getAs[Long]("n_queries"),
          "trained_hits" -> st.getAs[Long]("t_hits"),
          "blind_hits" -> st.getAs[Long]("s_hits"))
      }
    }
  }

  // ---- rp: the RP-LSH tier rule at its extrapolation edge --------------

  /** An embeddings-only run at a scale past the tier rule's last
    * measured point (default 16384x, ~33.5M vectors), confirming:
    * `rp_edge` — candidate volume stays ~linear in n under the tier the
    * rule picks (occupancy held ~constant per tier); `rp_edge_probes` —
    * planted near-dup probes (cos ≈ 0.9999) survive banding +
    * exact-cosine verify. Losing a probe fails the run.
    */
  def rp(run: Run): Unit = {
    val spark = run.spark
    for (k <- run.scales(16384)) {
      val dir = Soak.materialize(spark, k, needFacts = false, needDocs = false)
      val emb = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val (nb, bw) = Similarity.rpBandConfig(n)
      run.step("rp_edge", Seq("metric" -> "rp_edge", "scale" -> k)) {
        val t0 = System.nanoTime()
        val cands = Similarity.rpCandidates(emb, nb, bw).count()
        Seq("n_vectors" -> n, "bands" -> nb, "bits" -> bw, "candidates" -> cands,
          "cand_per_vec" -> num(cands.toDouble / n),
          "sec_candidates" -> num((System.nanoTime() - t0) / 1e9, 1))
      }
      run.step("rp_edge_probes", Seq("metric" -> "rp_edge_probes", "scale" -> k)) {
        val t0 = System.nanoTime()
        val retained = Similarity.rpLshPairs(spark, dir, threshold = 0.99, probes = 3)
          .filter(col("id_b") >= Similarity.ProbeIdOffset)
          .count()
        if (retained < 3) run.failures += 1
        Seq("planted" -> 3, "retained" -> retained,
          "sec" -> num((System.nanoTime() - t0) / 1e9, 1))
      }
    }
  }

  // ---- substring: hash-once vs recompute -------------------------------

  /** The substring detector's occurrence frame is consumed twice — under
    * the duplicated-hash groupBy and as the join probe — with its
    * lineage (tokenize + window + md5) recomputed both times unless it
    * is persisted once. Steps `recompute`, `persist` and `auto` (the
    * size-aware router's pick) run cold after priming the page cache
    * and must return the identical span multiset (count + hash fold);
    * `speedup` is recompute / persist. Named-only steps:
    * `auto_decision` records the router's pick from plan stats alone,
    * `auto_only` one cold routed run. Default scale 100.
    */
  def substring(run: Run): Unit = {
    val spark = run.spark
    def pick(docs: DataFrame) =
      if (Dedup.persistOccAuto(docs)) "persist" else "recompute"
    for (k <- run.scales(100)) {
      val dir = Soak.materialize(spark, k, needFacts = false)
      val docs = Tables.load(spark, dir, "documents")
      def variant(name: String)(body: => Row): Unit =
        run.step(name, Seq("metric" -> "substring_edge", "variant" -> name,
          "dir" -> dir))(body)
      /** (seconds, spans, hash fold) of one cold run. */
      def spans(persistOcc: Option[Boolean]): (Double, Long, Long) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val row = Dedup.substringSpansOf(docs, persistOcc = persistOcc)
          .agg(count(lit(1)).as("n"),
            // coalesce: sum() over an empty frame is NULL
            coalesce(sum(hash(col("doc_id"), col("span_start"),
              col("span_tokens")).cast("long")), lit(0L)).as("h"))
          .head()
        ((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1))
      }
      if (run.only("auto_decision")) variant("auto_decision") {
        Seq("picked" -> pick(docs),
          "free_mb" -> Scratch.freeBytes() / (1 << 20))
      }
      if (run.only("auto_only")) variant("auto_only") {
        val p = pick(docs)
        val t0 = System.nanoTime()
        val n = Dedup.substringSpansOf(docs).agg(count(lit(1))).head().getLong(0)
        Seq("sec" -> num((System.nanoTime() - t0) / 1e9), "picked" -> p,
          "n_spans" -> n)
      }
      if (Seq("recompute", "persist", "auto").exists(run.wants)) {
        docs.agg(sum(hash(col("doc_id"), col("text")).cast("long"))).collect(): Unit
        var r, p = Option.empty[(Double, Long, Long)]
        variant("recompute") {
          r = Some(spans(Some(false)))
          Seq("sec" -> num(r.get._1), "n_spans" -> r.get._2)
        }
        variant("persist") {
          p = Some(spans(Some(true)))
          Seq("sec" -> num(p.get._1), "n_spans" -> p.get._2)
        }
        for (rv <- r; pv <- p) variant("speedup") {
          require(rv._2 == pv._2 && rv._3 == pv._3,
            s"variants disagree: recompute $rv vs persist $pv")
          Seq("x" -> num(rv._1 / pv._1))
        }
        variant("auto") {
          val picked = pick(docs)
          val a = spans(None)
          for (rv <- r) require(a._2 == rv._2 && a._3 == rv._3,
            s"auto variant disagrees: auto $a vs recompute $rv")
          Seq("sec" -> num(a._1), "picked" -> picked, "n_spans" -> a._2)
        }
      }
    }
  }
}
