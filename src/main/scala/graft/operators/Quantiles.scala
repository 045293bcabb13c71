package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.SortableDoubleBits
import graft.sources.Tables

/** Exact per-group quantiles with scale-independent memory.
  *
  * Why: the r10 skew soak measured the boundary of the classic exact
  * median (`percentile`, a per-group count-map buffer): a Zipf hot key
  * with ~40M distinct values completes at 1000x on a 48 GB heap at
  * 1.52x the GK sketch — and graft.MedianEdge then measured the next
  * step directly: 50M distinct values on one key is FATAL (OOM) in the
  * 4 GB heap a normal executor gets (docs/SCALING.md round 11). The
  * usual answer is "switch to the sketch", which gives up exactness.
  * This operator keeps exactness at ANY group cardinality by
  * binary-searching the VALUE DOMAIN of the oversized groups instead
  * of buffering their values:
  *
  *  1. One algebraic pass counts rows and brackets min/max per key
  *     (partial aggregation makes this skew-immune — measured).
  *  2. Keys at or under `hotThreshold` rows take the classic exact
  *     percentile; their buffer is bounded by the THRESHOLD — a knob —
  *     not by the data.
  *  3. For each oversized ("hot") key — by construction a handful; a
  *     corpus where millions of keys exceed the threshold has no skew
  *     problem to survive — each requested quantile's order-statistic
  *     ranks are located by iterated histogram refinement over the
  *     ORDER-PRESERVING BIT IMAGE of the value
  *     ([[graft.functions.SortableDoubleBits]]): each pass buckets the
  *     (key, quantile) pair's current [lo, hi] bit interval into
  *     integer-exact sub-ranges, sums weight and counts rows per
  *     bucket — an algebraic aggregation whose state is O(buckets) per
  *     pair; an unweighted quantile is the unit-weight case — and
  *     narrows to the bucket holding the target ranks. Integer
  *     interval arithmetic means the histogram a pass counts and the
  *     range the next pass narrows to can never disagree (float bucket
  *     edges can misplace boundary values); the interval shrinks by
  *     ~the bucket count per pass, so ≤ ⌈64 / log2(buckets)⌉ + 1
  *     passes cover the whole double domain. ALL requested quantiles
  *     of ALL hot keys narrow inside the SAME per-pass job — asking
  *     for p50/p90/p99 costs one shared scan per pass, not three.
  *  4. Three exact endgames per (key, quantile): a single-bit-value
  *     interval IS the answer (plateau); ranks k1 ≠ k2 falling in
  *     different buckets means the quantile straddles a bucket edge
  *     whose below-count is exactly k1, so one conditional max/min
  *     pass yields both order statistics; otherwise once the interval
  *     holds ≤ `finish` rows they are collected and folded in value
  *     order executor-side, from the weight below the interval, until
  *     the cumulative weight reaches each target rank. The straddle
  *     and fold endgames run as one action.
  *
  * Cost shape: 1 full pass for counts, 1 full pass that EXTRACTS the
  * hot keys' rows into a DISK_ONLY persisted subset (at Zipf(1.1) a
  * minority of the corpus — the passes must not re-scan 100 TB to
  * reach 7% of it), then (passes + 1) jobs over that subset shared by
  * every requested quantile; with the default `finish` the pass count
  * is usually 1-2 — narrowing runs only until the candidate interval
  * fits one bounded collect, not until it pinpoints the value. Rank
  * location is one single-stage RDD job per pass: each task folds its
  * rows into a histogram of at most 2^20 cells, only those arrays come
  * back, and the driver scans their cumulative weight. Hot results
  * resolve EAGERLY (at most `maxHotKeys`·|ps| driver rows) and the
  * subset is unpersisted before returning, so the returned lazy plan
  * is just the small-key path plus a literal hot-result table — one
  * more full pass when the caller consumes it. Executor memory per
  * (key, quantile) is O(max(hotThreshold, finish, buckets)) — all
  * knobs, none scaling with the data.
  *
  * Numerics: quantiles interpolate as v1 + (v2−v1)·frac over the
  * order statistics at ⌊p(n−1)⌋+1 and ⌈p(n−1)⌉+1 — the same rule
  * Spark's `percentile` and DuckDB's `quantile_cont` apply, with the
  * rank position computed in double like both engines. NaN and null
  * values are excluded (DuckDB semantics; Spark's `percentile` sorts
  * NaN last instead — don't feed NaN to either and expect
  * cross-engine agreement). −0.0 orders just below +0.0 in bit space;
  * both compare numerically equal, so any selected order statistic is
  * numerically correct.
  *
  * This extends the engine's own exact-median operator (`q_median`,
  * [[graft.operators.Analytics.medianPricePerPriority]]) past the
  * group size where its per-group buffer stops fitting an executor —
  * a capability the reference pipeline (single-node pandas at
  * sample_size=888) never needs, and a 100 TB group-by cannot live
  * without.
  */
object Quantiles {

  /** Cap on one pass's histogram cells, summed over every active
    * (key, quantile) pair. A cell is two longs (weight sum, row
    * count), 16 bytes, and every task holds a whole histogram, so the
    * cap bounds a task's histogram at 16 MiB. A pass with more active
    * pairs than cap / (buckets + 2) — about 128 at the default 8,192
    * buckets — gets fewer buckets per pair (never fewer than 2, so
    * the cap holds up to 2^18 active pairs).
    * Narrowing is exact at any bucket count, so only the pass count
    * can grow; no benchmark workload reaches that regime, and its cost
    * is unmeasured.
    */
  private val HistCells = 1L << 20

  /** One-job histogram pass over the hot subset's cached scan (round
    * 17 second pass): per-partition long-array fold, then combine.
    * The seqOp mutates its task-local array in place; `size` longs of
    * state per task — a function of the knobs (capped by
    * [[HistCells]]), never of the data. Small arrays come straight
    * back to the driver (ONE single-stage job, zero shuffle); larger
    * ones take a depth-2 treeAggregate that caps driver traffic at
    * ~sqrt(partitions) arrays for one tiny extra stage.
    */
  private def histAggregate(
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      size: Int)(
      seq: (Array[Long], org.apache.spark.sql.catalyst.InternalRow) => Unit)
      : Array[Long] = {
    val comb = (a: Array[Long], b: Array[Long]) => {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    if (size <= (1 << 16))
      rdd.mapPartitions { it =>
        val h = new Array[Long](size)
        it.foreach(seq(h, _))
        Iterator.single(h)
      }.reduce(comb)
    else
      rdd.treeAggregate(new Array[Long](size))(
        (h, r) => { seq(h, r); h }, comb, depth = 2)
  }

  /** How [[auto]] computes its quantiles. `Exact` routes per key from
    * pass-0 counts (classic count-map percentile under the hot
    * threshold, value-domain narrowing above — the decision the engine
    * makes itself); `Sketch(accuracy)` is the explicit opt-in to the
    * mergeable GK estimate (`percentile_approx`) when an approximate
    * answer is acceptable and one pass is worth more than exactness.
    */
  sealed trait QuantileMode
  object QuantileMode {
    case object Exact extends QuantileMode
    final case class Sketch(accuracy: Int = 10000) extends QuantileMode
  }

  /** How the WEIGHTED exact path treats a key over `hotThreshold` rows.
    * Unlike the unweighted case — where the classic count-map buffer
    * OOMs past executor memory and narrowing is the only exact option —
    * the weighted cumsum replay SORTS (window sorts spill, never OOM),
    * so an oversized key has two viable exact plans whose crossover is
    * measured in both regimes (docs/SCALING.md round 12): one
    * serialized-but-spilling sort task beats the narrowing's extra
    * full-fact passes 4.1x on a single wide host, while the narrowing
    * wins 3.8x in an executor-sized (4 GiB) JVM and is the only path
    * whose hot-task time shrinks as executors are added.
    *
    *  - `CostAware` (default): route PER KEY on estimated cost. The
    *    serialized replay costs ~n_k rows times a spill multiplier
    *    (how far the key's sort working set overflows one task's share
    *    of execution memory); the narrowing costs ~γ·(N + passes·n_k)
    *    scan-equivalent rows spread over the cluster — both sides
    *    computable from pass-0 counts alone. Constants calibrated on
    *    the two measured regimes (γ = 16 reproduces both verdicts with
    *    ~20x margin each way).
    *  - `Narrow`: every oversized key narrows (the round-12 behavior;
    *    gate surfaces pin this so the narrowing machinery stays
    *    exercised).
    */
  sealed trait HotRoute
  object HotRoute {
    case object CostAware extends HotRoute
    case object Narrow extends HotRoute
  }

  /** One front door for per-key quantiles at any scale — the router
    * over what were three separate APIs (classic exact `percentile`,
    * the GK sketch, and the narrowing loop). Returns the uniform long
    * format (`key`, `p` double, `quantile` double) for every mode.
    *
    *  - `mode = Exact` (default): [[exactQuantilesAnyScale]] — every
    *    key exact; groups over `hotThreshold` rows take the
    *    O(buckets)-state narrowing path, the rest the classic
    *    count-map whose buffer the threshold caps. No knob changes
    *    needed across scale: the default threshold keeps the classic
    *    buffer executor-sized and the narrowing path has no
    *    data-scaling state (measured surviving 50M+ distinct values
    *    on one key in a 4 GiB JVM — graft.MedianEdge `auto` leg).
    *  - `mode = Sketch(acc)`: `percentile_approx` per key — one pass,
    *    mergeable, bounded rank error; for when the caller asks for
    *    an estimate, never chosen implicitly.
    *  - `weight = Some(col)`: weighted LOWER quantiles. Exact mode
    *    routes through [[exactWeightedQuantilesAnyScale]] (per-key
    *    replay-vs-narrowing routing, see `route`); `Sketch(k)` is the
    *    bounded-error one-aggregation estimate via
    *    [[approxWeightedQuantiles]] (deterministic priority sampling,
    *    rank error ~k^(-1/2)) and needs `ident` — the columns whose
    *    md5 drives the sampling — to be reproducible.
    */
  def auto(
      rows: DataFrame, key: String, value: String, ps: Seq[Double],
      mode: QuantileMode = QuantileMode.Exact,
      weight: Option[String] = None,
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096,
      route: HotRoute = HotRoute.CostAware,
      ident: Seq[String] = Nil): DataFrame = (mode, weight) match {
    case (QuantileMode.Exact, None) =>
      exactQuantilesAnyScale(rows, key, value, ps,
        hotThreshold, buckets, finish, maxHotKeys)
    case (QuantileMode.Exact, Some(w)) =>
      exactWeightedQuantilesAnyScale(rows, key, value, w, ps,
        hotThreshold, buckets, finish, maxHotKeys, route)
    case (QuantileMode.Sketch(acc), None) =>
      checkOutput(key, ps)
      val psLit = lit(ps.toArray)
      rows.filter(col(value).isNotNull && !isnan(col(value).cast("double")))
        .groupBy(col(key).as("__k"))
        .agg(percentile_approx(col(value).cast("double"), psLit, lit(acc))
          .as("__qs"))
        .select(col("__k"), posexplode(col("__qs")).as(Seq("__pi", "__med")))
        .select(col("__k").as(key),
          element_at(psLit, col("__pi") + 1).as("p"),
          col("__med").as("quantile"))
    case (QuantileMode.Sketch(acc), Some(w)) =>
      require(ident.nonEmpty,
        "weighted Sketch mode samples deterministically: pass ident = " +
          "the columns that uniquely identify a row (they seed the " +
          "per-row sampling hash)")
      approxWeightedQuantiles(rows, key, value, w, ps, ident, sampleK = acc)
  }

  /** The quantile list and output-column contract every front end
    * shares: distinct ps in [0, 1], and a key column that cannot
    * collide with the fixed (`p`, `quantile`) outputs.
    */
  private def checkOutput(key: String, ps: Seq[Double]): Unit = {
    require(ps.nonEmpty && ps.distinct.size == ps.size &&
      ps.forall(p => p >= 0.0 && p <= 1.0),
      s"ps must be distinct quantiles in [0, 1], got $ps")
    require(key != "p" && key != "quantile",
      s"key column '$key' collides with the fixed output columns " +
        "(key, p, quantile) — alias it before calling")
  }

  private def checkExact(key: String, ps: Seq[Double], hotThreshold: Long,
      buckets: Int, finish: Long, maxHotKeys: Int): Unit = {
    checkOutput(key, ps)
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    require(hotThreshold >= 1 && maxHotKeys >= 1,
      s"bad knobs: hotThreshold=$hotThreshold maxHotKeys=$maxHotKeys")
    require(finish >= 1 && finish <= 100000000L,
      s"finish=$finish must fit a collected per-key array")
  }

  /** Driver-side narrowing state for one (hot key, quantile). Every
    * exact quantile reads the values v1, v2 where the cumulative
    * weight in value order first reaches targets t1 ≤ t2, combined as
    * v1 + (v2−v1)·frac. Unweighted quantiles are the unit-weight case:
    * t1 = ⌊p(n−1)⌋+1 and t2 = ⌈p(n−1)⌉+1 (1-based order statistics);
    * weighted lower quantiles have t1 = t2 = max(1, ⌈p·W⌉), frac = 0.
    */
  private final class HotState(
      val sid: Int, val key: Any, val p: Double,
      val t1: Long, val t2: Long, val frac: Double,
      var lo: Long, var hi: Long, var inRows: Long) {
    var belowW: Long = 0L // weight of rows with bits < lo (bit order, exact)
    var straddleCut: Option[Long] = None // bit edge with weight exactly t1 at or below it
    var result: Option[Double] = None
    def open(finishAt: Long): Boolean =
      result.isEmpty && straddleCut.isEmpty && lo != hi && inRows > finishAt
  }

  /** Exact median of `value` per `key`, any group size — the p = 0.5
    * case of [[exactQuantileAnyScale]], returned as (`key`, `median`).
    */
  def exactMedianAnyScale(
      rows: DataFrame, key: String, value: String,
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096): DataFrame =
    exactQuantileAnyScale(rows, key, value, 0.5,
      hotThreshold, buckets, finish, maxHotKeys)
      .withColumnRenamed("quantile", "median")

  /** One exact quantile per key: the |ps| = 1 case of
    * [[exactQuantilesAnyScale]], returned as (`key`, `quantile`).
    */
  def exactQuantileAnyScale(
      rows: DataFrame, key: String, value: String, p: Double,
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096): DataFrame =
    exactQuantilesAnyScale(rows, key, value, Seq(p),
      hotThreshold, buckets, finish, maxHotKeys)
      .select(col(key), col("quantile"))

  /** Exact linear-interpolated quantiles of `value` per `key`, any
    * group size, all `ps` sharing the discovery/extraction passes and
    * every narrowing job.
    *
    * @param ps distinct quantiles in [0, 1]; interpolation semantics
    *   match Spark `percentile` / DuckDB `quantile_cont`.
    * @param hotThreshold groups larger than this take the narrowing
    *   path; smaller ones the classic count-map percentile (whose
    *   buffer this caps). Tune to the largest per-key buffer an
    *   executor should hold.
    * @param buckets histogram resolution per narrowing pass (memory
    *   per (key, quantile) during the pass; fewer buckets = more
    *   passes). A pass whose pairs would exceed the 2^20-cell
    *   histogram cap uses fewer.
    * @param finish collect-and-select once a pair's candidate interval
    *   holds at most this many rows.
    * @param maxHotKeys guard on the driver-side state: more hot keys
    *   than this fails fast with advice to raise the threshold.
    * @return one row per (distinct key, p): (`key` as named,
    *   `p` double, `quantile` double), nulls/NaNs in `value` ignored;
    *   groups with no remaining rows are absent. `key` must not be
    *   named `p` or `quantile` (the fixed output columns).
    *
    * @note SNAPSHOT ASSUMPTION: hot/small classification comes from an
    *   eager pass-0 count, but the small-key path in the returned plan
    *   is lazy over `rows`. The source must be stable between the call
    *   and consumption (a file scan is; a non-deterministic or mutated
    *   source is not) — otherwise a group that grows past the
    *   threshold after pass 0 silently takes the unbounded count-map
    *   path this operator exists to avoid. Persist `rows` for the
    *   call's lifetime if the source can move.
    */
  def exactQuantilesAnyScale(
      rows: DataFrame, key: String, value: String, ps: Seq[Double],
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096): DataFrame = {
    checkExact(key, ps, hotThreshold, buckets, finish, maxHotKeys)
    val v = col(value).cast("double")
    val base = rows
      .filter(col(value).isNotNull && !isnan(v))
      .select(col(key).as("__k"), v.as("__v"), lit(1L).as("__w"))

    // pass 0: count + value bracket per key (algebraic, skew-immune);
    // the bracket converts to bit space on the driver, so the full
    // corpus never evaluates the bit expression — only hot rows do.
    // The counts are exact, so they are the hot keys' stats (W = n).
    val hot = base.groupBy(col("__k")).agg(
      count(lit(1)).as("__n"), min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
      .filter(col("__n") > hotThreshold).collect()

    // small path: classic count-map percentile, all ps in one buffer
    val psLit = lit(ps.toArray)
    narrowHot(base, key, ps, hotThreshold, buckets, finish, maxHotKeys,
      hot.map(_.get(0)))(
      stats = _ => hot.zipWithIndex.map { case (r, ki) =>
        Row(ki, r.getLong(1), r.getLong(1), r.getDouble(2), r.getDouble(3))
      },
      targets = (p, w) => {
        val pos = p * (w - 1)
        (math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1,
          pos - math.floor(pos))
      },
      small = _.groupBy(col("__k"))
        .agg(percentile(col("__v"), psLit).as("__qs"))
        .select(col("__k"), posexplode(col("__qs")).as(Seq("__pi", "__med")))
        .select(col("__k"), element_at(psLit, col("__pi") + 1).as("__p"),
          col("__med")))
  }

  /** Exact LOWER weighted quantiles of `value` per `key`, weighted by
    * the integral column `weight`, any group size — the weighted front
    * end over the same narrowing core as [[exactQuantilesAnyScale]]:
    * bucket weight sums place the target, and the order-statistic
    * rank becomes a weight rank. Semantics per (key, p): the smallest
    * value v whose cumulative weight cumw(v) = Σ weight over rows with
    * value ≤ v reaches T = max(1, ⌈p·W⌉), W the key's total weight —
    * at p = 0.5 exactly the classic `2·cumw ≥ W → min(value)` lower
    * weighted median (the cumsum-replay formulation
    * [[Analytics.weightedMedian]] computes with a per-key sort window,
    * which this extends past the group size where that sort's task is
    * executor-shaped).
    *
    * Groups at or under `hotThreshold` ROWS take the windowed-cumsum
    * replay directly (per-key sort bounded by the knob); oversized
    * groups the `route` sends to narrowing narrow the value's bit
    * domain with O(buckets) state per (key, p) — per pass one shared
    * scan of the extracted hot subset sums (weight, row count) per
    * bucket, the target bucket is the first whose absolute cumulative
    * weight reaches T, and the endgame walks the ≤ `finish` collected
    * rows of the final interval executor-side (an `aggregate` fold,
    * only (key, p, value) rows return to the driver).
    *
    * Contracts: `weight` must be integral-valued and positive — rows
    * with null/≤ 0 weight or null/NaN value are EXCLUDED (a zero
    * weight cannot move cumw; excluding it matches the replay oracle
    * whenever ties share the boundary, and l_quantity-style weights
    * are ≥ 1 by construction); weights are summed as longs (Σ must
    * fit). A fractional weight fails the call eagerly with an
    * IllegalArgumentException. The pass-0 snapshot assumption of
    * [[exactQuantilesAnyScale]] applies unchanged.
    *
    * @return one row per (distinct key, p): (`key`, `p` double,
    *   `quantile` double).
    */
  def exactWeightedQuantilesAnyScale(
      rows: DataFrame, key: String, value: String, weight: String,
      ps: Seq[Double],
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096,
      route: HotRoute = HotRoute.CostAware): DataFrame = {
    checkExact(key, ps, hotThreshold, buckets, finish, maxHotKeys)
    val spark = rows.sparkSession
    val v = col(value).cast("double")
    val wLong = col(weight).cast("long")
    val keep = col(value).isNotNull && !isnan(v) &&
      col(weight).isNotNull && col(weight) > 0
    val base = rows.filter(keep)
      .select(col(key).as("__k"), v.as("__v"), wLong.as("__w"))

    // classification pass: WHICH keys exceed hotThreshold (plus the
    // corpus size and the eager integral-weight check). LEAN on
    // purpose: per-key count only — no rollup (its Expand feeds the
    // aggregation TWICE the rows, measured +50% on the 600M-row
    // decade), no value brackets (keys that narrow get exact stats
    // from their extracted subset below), and the per-key result
    // persists DISK_ONLY just long enough that the corpus total plus
    // the global integral verdict are one O(|keys|) follow-up job, not
    // a second scan of the fact. The integral contract is ENFORCED,
    // not assumed: a fractional weight would otherwise truncate
    // silently (0 < w < 1 passes the `> 0` filter yet contributes ZERO
    // weight after the long cast). A per-row raise_error guard was
    // tried instead and REJECTED by measurement: inside the replay's
    // 600M-row window pipeline it cost ~1.8x bracketed same-run wall
    // (docs/SCALING.md round 13).
    val counts = rows.filter(keep)
      .select(col(key).as("__k"), wLong.as("__w"),
        (col(weight).cast("double") === wLong.cast("double")).as("__wint"))
      .groupBy(col("__k")).agg(
        count(lit(1)).as("__n"), min(col("__wint")).as("__allint"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val over = counts.filter(col("__n") > hotThreshold).collect()
    val global = counts.agg(sum(col("__n")), min(col("__allint"))).head()
    counts.unpersist()
    require(global.isNullAt(1) || global.getBoolean(1),
      s"weight column '$weight' holds non-integral values — the " +
        "weighted quantile contract is integral positive weights " +
        "(a fractional weight would truncate silently); scale weights " +
        "to integers before calling")

    // Router cost model (see [[HotRoute]]): a key narrows only when
    // its single sorted window task — n rows times a spill multiplier
    // for how far the working set overflows one task's execution-
    // memory share — would outlast the narrowing's cluster-spread
    // passes (γ·(N + passes·n) / parallelism). Constants calibrated on
    // the two measured regimes (docs/SCALING.md rounds 12-13): the
    // 32-core 48 GiB host with a 40M-row hot key must pick the replay
    // (measured 4.1x better), the 4 GiB executor-sized JVM with a
    // 50M-distinct key must pick the narrowing (measured 3.8x better);
    // γ = 16 reproduces both with ~2-20x margin. Measured router
    // overhead on a single host: the classification pass (~1.2x over
    // the oracle-best plan at the 600M decade; a cluster spreads it
    // across executors like any other scan).
    val hotKeys: Array[Any] = route match {
      case HotRoute.Narrow => over.map(_.get(0))
      case HotRoute.CostAware =>
        val totalRows = if (global.isNullAt(0)) 0L else global.getLong(0)
        val parallelism =
          math.max(1, spark.sparkContext.defaultParallelism).toDouble
        val taskMem =
          Runtime.getRuntime.maxMemory.toDouble * 0.3 / parallelism
        val rowBytes = 48.0 // key + double value + long weight + sort overhead
        val narrowPasses = 3.0 // extraction + ~2 shared histogram passes
        val gamma = 16.0 // narrowing per-row machinery vs one window pass
        over.filter { r =>
          val n = r.getLong(1).toDouble
          val spill = math.max(1.0, n * rowBytes / taskMem)
          gamma * (totalRows + narrowPasses * n) / parallelism < n * spill
        }.map(_.get(0))
    }

    // small path: windowed cumsum replay; the RANGE default frame sums
    // through value ties, so cumw is a function of the VALUE — the
    // exact cumw(v) the definition wants. T uses the same double
    // multiply as the hot path so both paths agree bit-for-bit.
    val psLit = lit(ps.toArray)
    val wByV = Window.partitionBy(col("__k")).orderBy(col("__v"))
    val wAll = Window.partitionBy(col("__k"))
    // The EXACT per-key stats the narrowing needs — row count, total
    // weight W (the T = ⌈p·W⌉ targets), value brackets — ride one
    // cheap aggregate over the (persisted, small) extracted subset, so
    // they are exact even when the classification above was sampled,
    // and replay-routed runs never compute them.
    narrowHot(base, key, ps, hotThreshold, buckets, finish, maxHotKeys,
      hotKeys)(
      stats = _.groupBy(col("__ki")).agg(
        count(lit(1)), sum(col("__w")), min(col("__v")), max(col("__v")))
        .collect(),
      targets = (p, w) => {
        val t = math.max(1L, math.ceil(p * w).toLong)
        (t, t, 0.0)
      },
      small = _.withColumn("__cw", sum(col("__w")).over(wByV))
        .withColumn("__tw", sum(col("__w")).over(wAll))
        .select(col("__k"), col("__v"), col("__cw"), col("__tw"),
          explode(psLit).as("__p"))
        .withColumn("__t",
          greatest(lit(1L), ceil(col("__p") * col("__tw")).cast("long")))
        .filter(col("__cw") >= col("__t"))
        .groupBy(col("__k"), col("__p"))
        .agg(min(col("__v")).as("__med")))
  }

  /** The narrowing core both exact front ends share.
    *
    * @param base the filtered rows as (`__k`, `__v` double, `__w` long
    *   weight; `lit(1L)` for unweighted quantiles)
    * @param hotKeys the keys the front end routed to narrowing
    * @param stats exact per-hot-key (`__ki` index into `hotKeys`, rows,
    *   total weight W, min value, max value), given the persisted hot
    *   subset (`__ki`, `__v`, `__b`, `__w`) to aggregate if needed
    * @param targets (t1, t2, frac) of quantile p for total weight W
    * @param small (`__k`, `__p`, `__med`) for the rows of every other key
    */
  private def narrowHot(
      base: DataFrame, key: String, ps: Seq[Double], hotThreshold: Long,
      buckets: Int, finish: Long, maxHotKeys: Int, hotKeys: Array[Any])(
      stats: DataFrame => Array[Row],
      targets: (Double, Long) => (Long, Long, Double),
      small: DataFrame => DataFrame): DataFrame = {
    require(hotKeys.length <= maxHotKeys,
      s"${hotKeys.length} keys exceed hotThreshold=$hotThreshold (cap $maxHotKeys); " +
        "raise the threshold — a workload where this many keys are oversized " +
        "is big everywhere, not skewed")
    val spark = base.sparkSession
    def finishKeys(df: DataFrame): DataFrame =
      df.select(col("__k").as(key), col("__p").as("p"),
        col("__med").as("quantile"))
    if (hotKeys.isEmpty) return finishKeys(small(base))

    // joins against the driver-built key table are NULL-SAFE (`<=>`):
    // the null surrogate is the canonical hot key, and an equality join
    // would silently route a hot null group back to the small path
    val keyField = StructField("__k", base.schema("__k").dataType, nullable = true)
    val hotIdxDf = spark.createDataFrame(
      hotKeys.zipWithIndex.map { case (k, ki) => Row(k, ki) }.toSeq.asJava,
      StructType(Seq(keyField.copy(name = "__hk"),
        StructField("__ki", IntegerType))))
    def hotJoin(how: String): DataFrame =
      base.join(broadcast(hotIdxDf), col("__k") <=> col("__hk"), how)
    val smallQuantiles = small(hotJoin("left_anti"))

    // one extraction pass; every narrowing pass then reads the (small)
    // hot subset, not the full fact. DISK_ONLY: predictable, no
    // executor-memory claim beyond the write buffers. (An A/B against
    // localCheckpoint showed no driver-gap win — the per-pass planning
    // cost is job-submission latency, not lineage re-optimization —
    // and the eager checkpoint's separate materialization job cost
    // more than the persist's pipelined first-pass fill.) The subset
    // rows carry a dense key index (__ki) so the endgames key on an
    // int and the narrowing passes can run as raw RDD jobs over the
    // cached scan (round 17 second pass, guide §1.2 step 1): the pass
    // geometry travels in the task closure, making each pass ONE
    // single-stage job with zero planning, zero broadcast build and
    // zero exchange — the per-pass Catalyst cycle (analyze + optimize
    // + codegen + broadcast + 2-stage shuffle) was the family's
    // residual ~1 s driver gap after the round-17 collect fusion.
    val hotRows = hotJoin("inner")
      .select(col("__ki"), col("__v"),
        SortableDoubleBits.sortableBits(col("__v")).as("__b"), col("__w"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // fixed physical scan over the persisted subset — planned ONCE;
    // each narrowing pass re-runs only its tasks against the cache
    val hotScan = hotRows.queryExecution.toRdd
    val states = stats(hotRows).flatMap { r =>
      val ki = r.getInt(0)
      // min/max may report either of ±0.0 (they compare equal as
      // doubles); widen the bit bracket to cover both so no row can
      // fall outside it
      val loV = r.getDouble(3)
      val hiV = r.getDouble(4)
      val loB = SortableDoubleBits.toSortable(if (loV == 0.0) -0.0 else loV)
      val hiB = SortableDoubleBits.toSortable(if (hiV == 0.0) 0.0 else hiV)
      ps.zipWithIndex.map { case (p, pi) =>
        val (t1, t2, frac) = targets(p, r.getLong(2))
        new HotState(ki * ps.size + pi, hotKeys(ki), p, t1, t2, frac,
          loB, hiB, r.getLong(1))
      }
    }

    // buckets per pair this pass, under the [[HistCells]] cap
    def passBuckets(active: Int): Int =
      math.max(2L, math.min(buckets.toLong, HistCells / active - 2)).toInt
    // the interval shrinks ~passBuckets-fold per pass (half that on the
    // one possible mixed-sign shifted pass), and the active set only
    // shrinks, so the first pass has the fewest buckets; this bound is
    // generous
    val firstBuckets = passBuckets(math.max(1, states.count(_.open(finish))))
    val maxIter = 66 / (31 - Integer.numberOfLeadingZeros(firstBuckets)) + 4
    final case class Geo(s: HotState, shift: Int, sLo: Long, sHi: Long, w: Long)
    var iter = 0
    while (states.exists(_.open(finish)) && iter < maxIter) {
      iter += 1
      val active = states.filter(_.open(finish))
      val nB = passBuckets(active.length)

      // per-pair bucket geometry, integer-exact. A mixed-sign interval
      // wider than Long.MaxValue would overflow (bits - lo); shifting
      // both by one bit is order-preserving and never needed twice.
      val geo = active.map { s =>
        val wide = s.lo < 0 && s.hi > 0 &&
          (BigInt(s.hi) - BigInt(s.lo)) >= BigInt(Long.MaxValue)
        val shift = if (wide) 1 else 0
        val sLo = s.lo >> shift
        val sHi = s.hi >> shift
        Geo(s, shift, sLo, sHi, (sHi - sLo) / nB + 1)
      }
      // Rank location (round 17 second pass, guide §1.2/§2.4): the
      // per-pass histogram is a RAW RDD JOB over the cached subset
      // scan — the pass geometry rides the task closure, every hot row
      // lands in exactly one monotone bucket PER ACTIVE PAIR of its key
      // (the slot loop fans rows out per pair — this is how every
      // requested quantile narrows in one shared scan), and each cell
      // sums (weight, row count). The -1 / nB sentinel buckets keep
      // rows outside a pair's interval in its rank arithmetic (bucket
      // -1 carries the below-interval weight), so the cumulative weight
      // stays ABSOLUTE and nothing needs carrying between passes except
      // the interval itself. One single-stage job per pass, zero
      // planning, zero exchange; the driver receives ONE long array of
      // ≤ [[HistCells]] cells — a function of the KNOBS, never the data.
      val cells = nB + 2
      val slotLo = geo.map(_.s.lo)
      val slotHi = geo.map(_.s.hi)
      val slotSLo = geo.map(_.sLo)
      val slotW = geo.map(_.w)
      val slotShift = geo.map(_.shift)
      val slotsArr: Array[Array[Int]] = {
        val m = Array.fill(hotKeys.length)(
          scala.collection.mutable.ArrayBuffer.empty[Int])
        geo.zipWithIndex.foreach { case (g, j) => m(g.s.sid / ps.size) += j }
        m.map(_.toArray)
      }
      val nBL = nB.toLong
      val hist = histAggregate(hotScan, active.length * cells * 2) {
        (h, row) =>
          val slots = slotsArr(row.getInt(0))
          val b = row.getLong(2)
          val w = row.getLong(3)
          var i = 0
          while (i < slots.length) {
            val j = slots(i)
            val bkt =
              if (b < slotLo(j)) -1L
              else if (b > slotHi(j)) nBL
              else ((b >> slotShift(j)) - slotSLo(j)) / slotW(j)
            val off = (j * cells + (bkt + 1L).toInt) * 2
            h(off) += w
            h(off + 1) += 1L
            i += 1
          }
      }

      geo.zipWithIndex.foreach { case (g, j) =>
        val s = g.s
        // one scan over the cumulative weight locates both targets
        var cum, cum1, ws1, c1 = 0L
        var b1, b2 = Long.MinValue
        var idx = 0
        while (idx < cells && b2 == Long.MinValue) {
          val off = (j * cells + idx) * 2
          val ws = hist(off)
          val c = hist(off + 1)
          if (c != 0L) {
            cum += ws
            if (b1 == Long.MinValue && cum >= s.t1) {
              b1 = idx - 1L; cum1 = cum; ws1 = ws; c1 = c
            }
            if (cum >= s.t2) b2 = idx - 1L
          }
          idx += 1
        }
        require(b1 >= 0 && b1 < nB && b2 >= 0 && b2 < nB,
          s"targets t1=${s.t1} t2=${s.t2} left the bracketed interval " +
            s"(b1=$b1 b2=$b2, p=${s.p}) — narrowing invariant broken")
        val mask = (1L << g.shift) - 1
        val edge = math.min(s.hi,
          (math.min(g.sHi, g.sLo + (b1 + 1) * g.w - 1) << g.shift) | mask)
        if (b1 == b2) {
          s.lo = math.max(s.lo, (g.sLo + b1 * g.w) << g.shift)
          s.hi = edge
          s.belowW = cum1 - ws1
          s.inRows = c1
        } else {
          // only unit weights can split the targets (t2 = t1 + 1), and
          // exactly cum1 = t1 rows sit at or below the upper bit edge
          // of bucket b1: both order statistics are one conditional
          // aggregate away
          s.straddleCut = Some(edge)
        }
      }
    }
    require(!states.exists(_.open(finish)),
      s"quantile narrowing did not converge in $maxIter passes")

    // plateau endgame: a single-bit interval IS the value
    states.filter(s => s.result.isEmpty && s.straddleCut.isEmpty && s.lo == s.hi)
      .foreach(s => s.result = Some(SortableDoubleBits.fromSortable(s.lo)))

    // the remaining endgames resolve EAGERLY (one bounded job over the
    // persisted subset, at most maxHotKeys·|ps| rows back), so the
    // subset can be unpersisted and the returned plan stays lazy-cheap.
    // Both return (sid, v1, v2) and run as branches of ONE unioned
    // action (round 17), so their stages schedule inside a single job
    // instead of two driver-sequenced ones.
    val endgames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val straddled = states.filter(_.straddleCut.isDefined)
    if (straddled.nonEmpty) {
      val cuts = spark.createDataFrame(
        straddled.map(s => Row(s.sid / ps.size, s.sid, s.straddleCut.get))
          .toSeq.asJava,
        StructType(Seq(StructField("__ki", IntegerType),
          StructField("__sid", IntegerType),
          StructField("__cut", LongType))))
      endgames += hotRows.join(broadcast(cuts), Seq("__ki"))
        .groupBy(col("__sid"))
        .agg(max(when(col("__b") <= col("__cut"), col("__v"))).as("__v1"),
          min(when(col("__b") > col("__cut"), col("__v"))).as("__v2"))
    }

    // collect endgame: the ≤ finish interval rows fold EXECUTOR-SIDE,
    // a sorted (value, weight) walk from the absolute below-interval
    // weight that keeps the first value reaching each target; with
    // unit weights those are the t1-th and t2-th order statistics
    val collecting = states.filter(s =>
      s.result.isEmpty && s.straddleCut.isEmpty)
    if (collecting.nonEmpty) {
      val fin = spark.createDataFrame(
        collecting.map(s => Row(s.sid / ps.size, s.sid, s.lo, s.hi,
          s.belowW, s.t1, s.t2)).toSeq.asJava,
        StructType(Seq(StructField("__ki", IntegerType),
          StructField("__sid", IntegerType),
          StructField("__lo", LongType), StructField("__hi", LongType),
          StructField("__bw", LongType), StructField("__t1", LongType),
          StructField("__t2", LongType))))
      endgames += hotRows.join(broadcast(fin), Seq("__ki"))
        .filter(col("__b") >= col("__lo") && col("__b") <= col("__hi"))
        .groupBy(col("__sid"))
        .agg(sort_array(collect_list(struct(col("__v"), col("__w"))))
          .as("__vs"), first(col("__bw")).as("__bw"),
          first(col("__t1")).as("__t1"), first(col("__t2")).as("__t2"))
        .select(col("__sid"), expr(
          """aggregate(__vs,
            |  struct(__bw AS acc, CAST(NULL AS DOUBLE) AS v1,
            |    CAST(NULL AS DOUBLE) AS v2),
            |  (a, x) -> struct(a.acc + x.__w AS acc,
            |    coalesce(a.v1, IF(a.acc + x.__w >= __t1, x.__v, NULL)) AS v1,
            |    coalesce(a.v2, IF(a.acc + x.__w >= __t2, x.__v, NULL)) AS v2))"""
            .stripMargin).as("__f"))
        .select(col("__sid"), col("__f.v1").as("__v1"),
          col("__f.v2").as("__v2"))
    }
    val bySid = states.map(s => s.sid -> s).toMap
    if (endgames.nonEmpty)
      graft.GraftSession.withAdaptiveOff(spark) {
        endgames.reduce(_ unionByName _).collect()
      }.foreach { r =>
        require(!r.isNullAt(1) && !r.isNullAt(2),
          "a hot (key, p) endgame reached no target — endgame invariant broken")
        val s = bySid(r.getInt(0))
        val (v1, v2) = (r.getDouble(1), r.getDouble(2))
        // equal order statistics return v1 directly: Inf + (Inf-Inf)*f
        // would manufacture NaN where percentile/quantile_cont return Inf
        s.result = Some(if (v1 == v2) v1 else v1 + (v2 - v1) * s.frac)
      }
    hotRows.unpersist()
    require(states.forall(_.result.isDefined),
      "a hot (key, p) resolved no result — endgame invariant broken")

    val hotQuantiles = spark.createDataFrame(
      states.map(s => Row(s.key, s.p, s.result.get)).toSeq.asJava,
      StructType(Seq(keyField, StructField("__p", DoubleType),
        StructField("__med", DoubleType))))
    finishKeys(smallQuantiles.unionByName(hotQuantiles))
  }

  /** `q_median_narrow` gate surface: the narrowing median against the
    * classic-percentile groups the oracle can replay — hotThreshold
    * forced low so every group takes the narrowing path, buckets kept
    * small so the gate exercises multiple refinement passes and the
    * collect endgame, not just one histogram.
    */
  def medianNarrow(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice", Seq(0.5),
      hotThreshold = 100L, buckets = 64, finish = 48L)
      .select(col("l_returnflag"), round(col("quantile"), 4).as("med"))
      .orderBy(col("l_returnflag"))
  }

  /** `q_quantile_narrow` gate surface: the general-p narrowing
    * quantile (p90 here — frac-weighted interpolation, not the
    * median's midpoint) against DuckDB `quantile_cont`; knobs forced
    * low like the median gate so refinement and the endgames run.
    */
  def quantileNarrow(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_linenumber", "l_extendedprice", Seq(0.9),
      hotThreshold = 100L, buckets = 64, finish = 48L)
      .select(col("l_linenumber"), round(col("quantile"), 4).as("p90"))
      .orderBy(col("l_linenumber"))
  }

  /** `q_quantiles_multi` gate surface: p50/p90/p99 per group through
    * ONE shared set of narrowing passes, long format, against three
    * DuckDB `quantile_cont` calls unioned — proves cross-engine that
    * pass-sharing changes nothing about any individual quantile.
    */
  def quantilesNarrowMulti(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice",
      Seq(0.5, 0.9, 0.99), hotThreshold = 100L, buckets = 64, finish = 48L)
      .select(col("l_returnflag"), col("p"), round(col("quantile"), 4).as("q"))
      .orderBy(col("l_returnflag"), col("p"))
  }

  /** Bounded-error weighted quantiles in ONE aggregation pass —
    * the approximate path the exact narrowing was missing (a user
    * wanting a cheap weighted p50 at 100 TB should not have to pay
    * narrowing passes). Method: deterministic PRIORITY SAMPLING
    * (Duffield–Lund–Thorup): each row draws u ∈ (0, 1] from the md5
    * of its `ident` columns and gets priority w/u; per key the
    * `sampleK`+1 highest-priority rows are kept by the engine's own
    * bounded-heap aggregate (`graft_topk` — heaps combine map-side,
    * so only O(sampleK) state per key ever shuffles, the same shape
    * GK's unweighted sketch gets from `percentile_approx`). With
    * threshold τ = the (sampleK+1)-th priority, each sampled row's
    * adjusted weight max(w, τ) makes every subset weight-sum
    * unbiased, so the weighted quantile read off the sorted sample
    * estimates the true one with rank error ~sampleK^(-1/2) — and a
    * key with ≤ sampleK rows is EXACT (τ = 0 keeps raw weights).
    * All array post-processing (τ, adjust, sort, cumulative fold)
    * runs on the O(sampleK) aggregate result, never the raw rows.
    *
    * Deterministic by construction: the md5 draw replaces the RNG, so
    * reruns, retries, and both gate engines see the same sample —
    * the same discipline as `text_weighted_sample`'s
    * Efraimidis–Spirakis sampler.
    *
    * Semantics estimated: the LOWER weighted quantile (smallest v
    * whose cumulative weight reaches p·W — the same statistic as
    * [[exactWeightedQuantilesAnyScale]]). Rows with null/NaN value or
    * null/non-positive weight are excluded. Fractional weights are
    * ACCEPTED here (weights participate as doubles; only the exact
    * path's long-rank arithmetic demands integral weights).
    *
    * @param ident  columns whose concatenation identifies a row —
    *   seeds the per-row sampling hash; duplicates share a draw
    *   (harmless at sketch accuracy)
    * @param sampleK  per-key sample size: rank error ~1/sqrt(sampleK)
    *   (default 10000 ≈ 1%), executor state per key ~32·sampleK bytes
    * @return one row per (distinct key, p): (`key`, `p` double,
    *   `quantile` double)
    */
  def approxWeightedQuantiles(
      rows: DataFrame, key: String, value: String, weight: String,
      ps: Seq[Double], ident: Seq[String],
      sampleK: Int = 10000): DataFrame = {
    checkOutput(key, ps)
    require(ident.nonEmpty, "ident columns seed the deterministic draw")
    require(sampleK >= 16 && sampleK <= 10000000,
      s"sampleK=$sampleK out of the executor-sized range")
    val v = col(value).cast("double")
    val wD = col(weight).cast("double")
    val keep = col(value).isNotNull && !isnan(v) &&
      col(weight).isNotNull && col(weight) > 0
    // u ∈ (0, 1]: 60-bit md5 slice, +1 so the division never sees 0
    val u = (conv(substring(md5(concat_ws("|", ident.map(col): _*)
      .cast("binary")), 1, 15), 16, 10).cast("double") + lit(1.0)) /
      lit(math.pow(2.0, 60))
    val psLit = lit(ps.toArray)
    rows.filter(keep)
      .select(col(key).as("__k"), v.as("__v"), wD.as("__w"),
        (wD / u).as("__pri"))
      .groupBy(col("__k"))
      .agg(graft.functions.TopKFunctions.topK(
        struct(col("__pri"), col("__v"), col("__w")), sampleK + 1).as("__arr"))
      .withColumn("__tau",
        when(size(col("__arr")) > sampleK,
          element_at(col("__arr"), sampleK + 1).getField("__pri"))
          .otherwise(lit(0.0)))
      // adjusted sample in VALUE order; (v, w) structs sort by v first
      .withColumn("__sorted", array_sort(transform(
        slice(col("__arr"), 1, sampleK),
        x => struct(x.getField("__v").as("v"),
          greatest(x.getField("__w"), col("__tau")).as("w")))))
      .withColumn("__tw",
        aggregate(col("__sorted"), lit(0.0), (a, x) => a + x.getField("w")))
      .select(col("__k"), col("__sorted"), col("__tw"),
        explode(psLit).as("__p"))
      .withColumn("__t", col("__p") * col("__tw"))
      // smallest sampled v whose cumulative adjusted weight reaches
      // p·W; the coalesce absorbs the one fp edge (T = W undershot by
      // the rounding of the final partial sum) with the max value
      .select(col("__k").as(key), col("__p").as("p"), coalesce(expr(
        """aggregate(__sorted,
          |  struct(CAST(0.0 AS DOUBLE) AS acc, CAST(NULL AS DOUBLE) AS res),
          |  (a, x) -> CASE
          |    WHEN a.res IS NOT NULL THEN a
          |    WHEN a.acc + x.w >= __t
          |      THEN struct(a.acc + x.w AS acc, x.v AS res)
          |    ELSE struct(a.acc + x.w AS acc, CAST(NULL AS DOUBLE) AS res)
          |  END,
          |  a -> a.res)""".stripMargin),
        element_at(col("__sorted"), -1).getField("v")).as("quantile"))
  }

  /** `q_approx_weighted_quantile` gate surface: the weighted sketch's
    * contract — the returned value's WEIGHT RANK is within the sample
    * bound of the target — made recordable, mirroring
    * [[Analytics.approxQuantileGate]]. Per group the estimate's
    * empirical weight rank (Σ weight over rows with value ≤ est over
    * total weight, one broadcast-join pass back over the data) is
    * checked against |rank − p| ≤ `epsCheck` (default 0.02 ≈ 2σ
    * headroom over the nominal 1/sqrt(10000) = 1%; the md5 draw is
    * deterministic, so the verdict is stable per dataset). The oracle
    * recomputes the exact group count/weight and predicts both
    * verdicts true, so a rank excursion fails the hash gate.
    */
  def approxWeightedQuantileGate(spark: SparkSession, dir: String,
      sampleK: Int = 10000, epsCheck: Double = 0.02): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val est = auto(l, "l_returnflag", "l_extendedprice", Seq(0.5, 0.9),
      mode = QuantileMode.Sketch(sampleK), weight = Some("l_quantity"),
      ident = Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("l_returnflag"))
      .agg(max(when(col("p") === 0.5, col("quantile"))).as("e50"),
        max(when(col("p") === 0.9, col("quantile"))).as("e90"))
    def rankOk(le: Column, tw: Column, p: Double): Column =
      abs(le.cast("double") / tw.cast("double") - lit(p)) <= lit(epsCheck)
    l.join(broadcast(est), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("w_total"),
        sum(when(col("l_extendedprice") <= col("e50"),
          col("l_quantity").cast("long")).otherwise(0L)).as("le50"),
        sum(when(col("l_extendedprice") <= col("e90"),
          col("l_quantity").cast("long")).otherwise(0L)).as("le90"))
      .select(col("l_returnflag"), col("n_rows"), col("w_total"),
        rankOk(col("le50"), col("w_total"), 0.5).as("p50_rank_ok"),
        rankOk(col("le90"), col("w_total"), 0.9).as("p90_rank_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** `q_weighted_median_auto` gate surface: the same statistic as
    * `q_weighted_median_narrow` but through the DEFAULT cost-aware
    * route — at gate scale the model routes every over-threshold key
    * to the windowed replay, so this pins both that the router is
    * semantics-preserving (identical oracle as the narrow gate) and
    * that the replay path behind the router computes the same
    * statistic the narrowing does.
    */
  def weightedMedianAuto(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice", Seq(0.5),
      weight = Some("l_quantity"), hotThreshold = 100L)
      .select(col("l_returnflag"), round(col("quantile"), 4).as("wmed"))
      .orderBy(col("l_returnflag"))
  }

  /** `q_weighted_median_narrow` gate surface: the weighted narrowing
    * median (quantity-weighted price per return flag) against the
    * DuckDB cumsum-replay oracle (`2·cumw ≥ W → min(value)`), knobs
    * forced low so every group takes the narrowing path and the
    * executor-side fold endgame runs, not just one histogram. The same
    * statistic [[Analytics.weightedMedian]] computes with a per-key
    * sort window — this is its any-scale twin through the [[auto]]
    * front door.
    */
  def weightedMedianNarrow(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice", Seq(0.5),
      weight = Some("l_quantity"),
      hotThreshold = 100L, buckets = 64, finish = 48L,
      route = HotRoute.Narrow)
      .select(col("l_returnflag"),
        round(col("quantile"), 4).as("wmed"))
      .orderBy(col("l_returnflag"))
  }

  /** `q_weighted_quantiles_multi` gate surface: p25/p50/p90 weighted
    * quantiles per group through ONE shared set of narrowing passes —
    * the weighted twin of `q_quantiles_multi`, proving cross-engine
    * that pass-sharing changes nothing about any individual weight
    * rank. Oracle: three unioned DuckDB cumsum replays
    * (min value with cumw ≥ ⌈p·W⌉).
    */
  def weightedQuantilesNarrowMulti(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice", Seq(0.25, 0.5, 0.9),
      weight = Some("l_quantity"),
      hotThreshold = 100L, buckets = 64, finish = 48L,
      route = HotRoute.Narrow)
      .select(col("l_returnflag"), col("p"),
        round(col("quantile"), 4).as("q"))
      .orderBy(col("l_returnflag"), col("p"))
  }
}
