package graft.operators

import scala.collection.mutable.ArrayBuilder
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.SortableDoubleBits
import graft.sources.Tables

/** Exact per-group quantiles with scale-independent memory.
  *
  * Why: the r10 skew soak measured the boundary of the classic exact
  * median (`percentile`, a per-group count-map buffer): a Zipf hot key
  * with ~40M distinct values completes at 1000x on a 48 GB heap at
  * 1.52x the GK sketch — and a child-JVM harness then measured the next
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
  *     and fold endgames run as one raw RDD job over the hot subset,
  *     like the passes: no plan is built and no conf is scoped.
  *
  * Cost shape: one classification aggregate over the full input
  * (per key: rows, weight sum, value bracket; two AQE jobs), then one
  * job per narrowing pass and one endgame job, shared by every
  * requested quantile. The first pass is the only one that reads the
  * full input again: its tasks look each row's key up in a hot-key
  * index carried in the task closure and EXTRACT the hot rows into a
  * DISK_ONLY persisted subset of per-key blocks of sortable bits (at
  * Zipf(1.1) a minority of the corpus — the passes must not re-scan
  * 100 TB to reach 7% of it) while they histogram them; every later
  * pass and the endgame read only that subset. With the default
  * `finish` the pass count is usually 1-2 — narrowing runs only until
  * the candidate interval fits one bounded collect, not until it
  * pinpoints the value. Each pass is one single-stage RDD job: each
  * task folds its rows into a histogram of at most 2^20 cells, only
  * those arrays come back, and the driver scans their cumulative
  * weight. Hot results resolve EAGERLY (at most `maxHotKeys`·|ps|
  * driver rows) and the subset is unpersisted before returning, on
  * failure too, so the returned lazy plan is just the small-key path
  * plus a literal hot-result table — one more full pass when the
  * caller consumes it. When every key is hot (the classification
  * observes the key count) the small-key path is left out: the
  * returned frame is the literal table alone, and collecting it
  * starts no job. Executor memory per (key, quantile) is
  * O(max(hotThreshold, finish, buckets)) — all knobs, none scaling
  * with the data.
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

  /** Hot rows one extraction task buffers before it hands them on as
    * [[HotBlock]]s: bounds a task's buffer at 16 bytes a row (bits and
    * weight) times this, whatever its partition holds.
    */
  private val BlockRows = 1 << 16

  /** One extraction task's rows of one hot key: the sortable bits of
    * their values and, only for a key whose weights are not all 1,
    * their weights (`ws` is null when every weight is 1).
    */
  private final case class HotBlock(ki: Int, bits: Array[Long], ws: Array[Long]) {
    def weight(r: Int): Long = if (ws == null) 1L else ws(r)
  }

  /** One-job histogram pass over the hot subset: per-partition
    * long-array fold, then combine. The seqOp mutates its task-local
    * array in place; `size` longs of state per task — a function of the
    * knobs (capped by [[HistCells]]), never of the data. Small arrays
    * come straight back to the driver (ONE single-stage job, zero
    * shuffle); larger ones take a depth-2 treeAggregate that caps
    * driver traffic at ~sqrt(partitions) arrays for one tiny extra
    * stage.
    */
  private def histAggregate(rdd: RDD[HotBlock], size: Int)(
      seq: (Array[Long], HotBlock) => Unit): Array[Long] = {
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
    *    on one key in a 4 GiB JVM — docs/SCALING.md round 13).
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
    *   path this operator exists to avoid. When pass 0 finds every key
    *   hot, the returned frame holds no small-key path and does not
    *   read `rows` again, so a key that first appears after pass 0 is
    *   absent from it. Persist `rows` for the call's lifetime if the
    *   source can move.
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
    // corpus never computes the bit image — only hot rows do.
    // The counts are exact, so they are the hot keys' stats (W = n, the
    // same count: Spark computes it once). The key count is observed on
    // the same collect, BEFORE the hot filter: it tells narrowHot
    // whether any key is left for the small path.
    val classified = new Observation()
    val n = count(lit(1))
    val hot = base.groupBy(col("__k")).agg(n.as("__n"), n.as("__W"),
      min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
      .observe(classified, count(lit(1)).as("n_keys"))
      .filter(col("__n") > hotThreshold).collect()

    // small path: classic count-map percentile, all ps in one buffer
    val psLit = lit(ps.toArray)
    narrowHot(base, key, ps, hotThreshold, buckets, finish, maxHotKeys,
      hot, classified.get("n_keys").asInstanceOf[Long])(
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
    * rows of the final interval executor-side (a reducer-side fold;
    * only one (v1, v2) per (key, p) returns to the driver).
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

    // classification pass: WHICH keys exceed hotThreshold, each with
    // the stats the narrowing starts from — row count, total weight W
    // (the T = ⌈p·W⌉ targets), value bracket — the unweighted pass 0's
    // shape, so the narrowing's first pass fills the hot subset instead
    // of a separate stats job over it. Plus the corpus size, the key
    // count and the eager integral-weight check. No rollup: its Expand
    // feeds the aggregation TWICE the rows (measured +50% on the
    // 600M-row decade). The corpus total, the global integral verdict
    // and the key count are observed over EVERY key, before the hot
    // filter, on the same collect: one action, no second scan of the
    // fact and no follow-up job. The integral contract is ENFORCED, not
    // assumed: a fractional weight would otherwise truncate silently
    // (0 < w < 1 passes the `> 0` filter yet contributes ZERO weight
    // after the long cast). A per-row raise_error guard was tried
    // instead and REJECTED by measurement: inside the replay's
    // 600M-row window pipeline it cost ~1.8x bracketed same-run wall
    // (docs/SCALING.md round 13).
    val classified = new Observation()
    val over = rows.filter(keep)
      .select(col(key).as("__k"), v.as("__v"), wLong.as("__w"),
        (col(weight).cast("double") === wLong.cast("double")).as("__wint"))
      .groupBy(col("__k")).agg(
        count(lit(1)).as("__n"), sum(col("__w")).as("__W"),
        min(col("__v")).as("__lo"), max(col("__v")).as("__hi"),
        min(col("__wint")).as("__allint"))
      .observe(classified, sum(col("__n")).as("n_rows"),
        min(col("__allint")).as("all_int"), count(lit(1)).as("n_keys"))
      .filter(col("__n") > hotThreshold).collect()
    val global = classified.get
    require(global("all_int") == null || global("all_int") == true,
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
    val hot: Array[Row] = route match {
      case HotRoute.Narrow => over
      case HotRoute.CostAware =>
        val totalRows = Option(global("n_rows")).fold(0L)(_.asInstanceOf[Long])
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
        }
    }

    // small path: windowed cumsum replay; the RANGE default frame sums
    // through value ties, so cumw is a function of the VALUE — the
    // exact cumw(v) the definition wants. T uses the same double
    // multiply as the hot path so both paths agree bit-for-bit.
    val psLit = lit(ps.toArray)
    val wByV = Window.partitionBy(col("__k")).orderBy(col("__v"))
    val wAll = Window.partitionBy(col("__k"))
    narrowHot(base, key, ps, hotThreshold, buckets, finish, maxHotKeys,
      hot, global("n_keys").asInstanceOf[Long])(
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
    * @param hot the keys the front end routed to narrowing with their
    *   exact pass-0 stats, one row each: (key, rows n, total weight W,
    *   min value, max value); a key's position is its key index
    * @param nKeys how many keys `base` holds; when every one is in `hot`
    *   the result is the driver-built hot table alone
    * @param targets (t1, t2, frac) of quantile p for total weight W
    * @param small (`__k`, `__p`, `__med`) for the rows of every other key
    */
  private def narrowHot(
      base: DataFrame, key: String, ps: Seq[Double], hotThreshold: Long,
      buckets: Int, finish: Long, maxHotKeys: Int, hot: Array[Row],
      nKeys: Long)(
      targets: (Double, Long) => (Long, Long, Double),
      small: DataFrame => DataFrame): DataFrame = {
    require(hot.length <= maxHotKeys,
      s"${hot.length} keys exceed hotThreshold=$hotThreshold (cap $maxHotKeys); " +
        "raise the threshold — a workload where this many keys are oversized " +
        "is big everywhere, not skewed")
    val spark = base.sparkSession
    def finishKeys(df: DataFrame): DataFrame =
      df.select(col("__k").as(key), col("__p").as("p"),
        col("__med").as("quantile"))
    if (hot.isEmpty) return finishKeys(small(base))

    val states = hot.zipWithIndex.flatMap { case (r, ki) =>
      // min/max may report either of ±0.0 (they compare equal as
      // doubles); widen the bit bracket to cover both so no row can
      // fall outside it
      val loV = r.getDouble(3)
      val hiV = r.getDouble(4)
      val loB = SortableDoubleBits.toSortable(if (loV == 0.0) -0.0 else loV)
      val hiB = SortableDoubleBits.toSortable(if (hiV == 0.0) 0.0 else hiV)
      ps.zipWithIndex.map { case (p, pi) =>
        val (t1, t2, frac) = targets(p, r.getLong(2))
        new HotState(ki * ps.size + pi, r.get(0), p, t1, t2, frac,
          loB, hiB, r.getLong(1))
      }
    }

    // Extraction: one raw RDD over the filtered rows' own physical plan,
    // so the scan, filter and projection stay codegen'd. Each row's key
    // is looked up in a driver-built index that rides the task closure,
    // compared the way Spark's grouping and `<=>` joins compare keys:
    // floating-point parts normalized (−0.0 is 0.0, every NaN one NaN),
    // then the key's UnsafeRow bytes, so a null key is a key like any
    // other. The subset holds only what the passes and the endgame
    // read: per-hot-key blocks of sortable bits, with weights only for
    // a key whose weights are not all 1 (W > n). A task buffers at most
    // [[BlockRows]] hot rows before it hands their blocks on.
    //
    // DISK_ONLY, and filled by the first pass that reads it: no
    // executor-memory claim beyond the write buffers, and no job of its
    // own. (An A/B against localCheckpoint showed no driver-gap win and
    // its eager materialization job cost more than the persist's
    // pipelined fill.) Each narrowing pass and the endgame then re-run
    // only their tasks against the cached blocks, with their geometry
    // in the task closure: one single-stage job each, no planning, no
    // broadcast, no exchange. A lost executor's blocks recompute from
    // lineage.
    val keyType = base.schema("__k").dataType
    val normKey = ColumnBridge.normalizeFloats(BoundReference(0, keyType, nullable = true))
    val index: Map[UnsafeRow, Int] = {
      val proj = UnsafeProjection.create(Seq(normKey))
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(keyType)
      hot.indices.map(ki =>
        proj(InternalRow(toCatalyst(hot(ki).get(0)))).copy() -> ki).toMap
    }
    val unitW = hot.map(r => r.getLong(1) == r.getLong(2))
    val subset = base.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(Seq(normKey))
      val bits = Array.fill(unitW.length)(new ArrayBuilder.ofLong)
      val ws = unitW.map(u => if (u) null else new ArrayBuilder.ofLong)
      Iterator.continually {
        var n = 0
        while (n < BlockRows && rows.hasNext) {
          val row = rows.next()
          val ki = index.getOrElse(proj(row), -1)
          if (ki >= 0) {
            bits(ki).addOne(SortableDoubleBits.toSortable(row.getDouble(1)))
            if (ws(ki) != null) ws(ki).addOne(row.getLong(2))
            n += 1
          }
        }
        for (ki <- bits.indices if bits(ki).length > 0) yield {
          val blk = HotBlock(ki, bits(ki).result(),
            if (ws(ki) == null) null else ws(ki).result())
          bits(ki).clear()
          if (ws(ki) != null) ws(ki).clear()
          blk
        }
      }.takeWhile(_.nonEmpty).flatten
    }.persist(StorageLevel.DISK_ONLY)

    // per hot key index, the slots (indices into `pairs`) of its pairs:
    // how a job fans each row out to every pair of its key
    def slotsByKey(pairs: Array[HotState]): Array[Array[Int]] = {
      val m = Array.fill(hot.length)(Array.newBuilder[Int])
      pairs.indices.foreach(j => m(pairs(j).sid / ps.size) += j)
      m.map(_.result())
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
    // a failed pass or endgame (a broken invariant, a cancelled job
    // group) must not leave the subset's blocks registered
    try {
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
        // Rank location: each pass is a raw RDD job over the subset's
        // blocks — the pass geometry rides the task closure, every hot
        // row lands in exactly one monotone bucket PER ACTIVE PAIR of
        // its key (the slot loop fans rows out per pair — this is how
        // every requested quantile narrows in one shared scan), and
        // each cell sums (weight, row count). The -1 / nB sentinel
        // buckets keep rows outside a pair's interval in its rank
        // arithmetic (bucket -1 carries the below-interval weight), so
        // the cumulative weight stays ABSOLUTE and nothing needs
        // carrying between passes except the interval itself. The
        // driver receives ONE long array of ≤ [[HistCells]] cells — a
        // function of the KNOBS, never the data.
        val cells = nB + 2
        val slotLo = geo.map(_.s.lo)
        val slotHi = geo.map(_.s.hi)
        val slotSLo = geo.map(_.sLo)
        val slotW = geo.map(_.w)
        val slotShift = geo.map(_.shift)
        val slotsArr = slotsByKey(active)
        val nBL = nB.toLong
        val hist = histAggregate(subset, active.length * cells * 2) {
          (h, blk) =>
            val slots = slotsArr(blk.ki)
            var r = 0
            while (r < blk.bits.length && slots.length > 0) {
              val b = blk.bits(r)
              val w = blk.weight(r)
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
              r += 1
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

      // The straddle and collect endgames resolve EAGERLY in ONE raw RDD
      // job over the subset, like the passes: the pair geometry rides
      // the task closure, no plan is built, and at most
      // maxHotKeys·|ps| (v1, v2) come back, so the subset can be
      // unpersisted and the returned plan stays lazy-cheap. Map side,
      // per open pair of a row's key: a straddled pair keeps the max
      // bits at or below its cut and the min bits above it (a partial:
      // the straddle reads every row of its key); a collecting pair
      // keeps its ≤ finish interval rows as (bits, weight). One shuffle
      // brings each pair to one reducer. A straddle's two order
      // statistics are the max and min of its partials; a collecting
      // pair's rows fold in the order sort_array(struct(value, weight))
      // gives (Spark's double ordering, −0.0 tying 0.0, then weight)
      // from the absolute below-interval weight, keeping the first value
      // that reaches each target; with unit weights those are the t1-th
      // and t2-th order statistics. NaN marks a target no row reached
      // (values are never NaN: the front ends drop them).
      val open = states.filter(_.result.isEmpty)
      if (open.nonEmpty) {
        val slotsArr = slotsByKey(open)
        val cut = open.map(_.straddleCut)
        val lo = open.map(_.lo)
        val hi = open.map(_.hi)
        val belowW = open.map(_.belowW)
        val t1 = open.map(_.t1)
        val t2 = open.map(_.t2)
        val n = open.length
        subset.mapPartitions { it =>
          val rows = Array.fill(n)(new ArrayBuilder.ofLong)
          val le = Array.fill(n)(Long.MinValue)
          val gt = Array.fill(n)(Long.MaxValue)
          it.foreach { blk =>
            val slots = slotsArr(blk.ki)
            if (slots.nonEmpty) blk.bits.indices.foreach { r =>
              val b = blk.bits(r)
              slots.foreach { j =>
                cut(j) match {
                  case Some(c) =>
                    if (b <= c) le(j) = math.max(le(j), b)
                    else gt(j) = math.min(gt(j), b)
                  case None =>
                    if (b >= lo(j) && b <= hi(j)) rows(j).addOne(b).addOne(blk.weight(r))
                }
              }
            }
          }
          Iterator.tabulate(n)(j =>
            j -> (if (cut(j).isDefined) Array(le(j), gt(j)) else rows(j).result()))
        }.reduceByKey(_ ++ _).map { case (j, bs) =>
          j -> (cut(j) match {
            case Some(c) => (SortableDoubleBits.fromSortable(bs.filter(_ <= c).max),
              SortableDoubleBits.fromSortable(bs.filter(_ > c).min))
            case None =>
              var acc = belowW(j)
              var v1, v2 = Double.NaN
              bs.grouped(2).map(r => (SortableDoubleBits.fromSortable(r(0)), r(1)))
                .toArray.sortWith { (x, y) =>
                  val c = SQLOrderingUtil.compareDoubles(x._1, y._1)
                  c < 0 || c == 0 && x._2 < y._2
                }.foreach { case (v, w) =>
                  acc += w
                  if (v1.isNaN && acc >= t1(j)) v1 = v
                  if (v2.isNaN && acc >= t2(j)) v2 = v
                }
              (v1, v2)
          })
        }.collect().foreach { case (j, (v1, v2)) =>
          require(!v1.isNaN && !v2.isNaN,
            "a hot (key, p) endgame reached no target — endgame invariant broken")
          // equal order statistics return v1 directly: Inf + (Inf-Inf)*f
          // would manufacture NaN where percentile/quantile_cont return Inf
          open(j).result = Some(if (v1 == v2) v1 else v1 + (v2 - v1) * open(j).frac)
        }
      }
    } finally subset.unpersist()
    require(states.forall(_.result.isDefined),
      "a hot (key, p) resolved no result — endgame invariant broken")

    val keyField = StructField("__k", keyType, nullable = true)
    val hotQuantiles = spark.createDataFrame(
      states.map(s => Row(s.key, s.p, s.result.get)).toSeq.asJava,
      StructType(Seq(keyField, StructField("__p", DoubleType),
        StructField("__med", DoubleType))))
    // every key hot: no small key is left, so the result is the driver
    // rows alone, not a scan of the fact anti-joined to nothing. Else
    // the small keys are the rows whose key is NOT NULL-SAFE equal
    // (`<=>`) to a hot key: the null surrogate is a canonical hot key,
    // and an equality join would silently route a hot null group back
    // to the small path
    finishKeys(if (hot.length == nKeys) hotQuantiles else {
      val hotKeys = spark.createDataFrame(hot.map(r => Row(r.get(0))).toSeq.asJava,
        StructType(Seq(keyField.copy(name = "__hk"))))
      small(base.join(broadcast(hotKeys), col("__k") <=> col("__hk"), "left_anti"))
        .unionByName(hotQuantiles)
    })
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
