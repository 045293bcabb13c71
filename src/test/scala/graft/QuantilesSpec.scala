package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.SortableDoubleBits
import graft.operators.Quantiles

class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random doubles (no Random: repeatable). */
  private def hashDouble(i: Int, salt: Int, scale: Double): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((i, salt))
    (h.toDouble / Int.MaxValue) * scale
  }

  private def referenceMedian(vs: Seq[Double]): Double = {
    val s = vs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def narrowed(df: DataFrame, hotThreshold: Long, buckets: Int,
      finish: Long): Map[String, Double] =
    Quantiles.exactMedianAnyScale(df, "k", "v",
      hotThreshold = hotThreshold, buckets = buckets, finish = finish)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("sortable bits preserve double ordering across signs and magnitudes") {
    val vals = Seq(Double.MinValue, -1.7e308, -4.2e5, -1.0, -1e-300,
      -java.lang.Double.MIN_VALUE, -0.0, 0.0, java.lang.Double.MIN_VALUE,
      1e-300, 0.5, 1.0, 4.2e5, 1.7e308, Double.MaxValue) ++
      (0 until 500).map(i => hashDouble(i, 7, 1e9))
    val sortedByVal = vals.sorted
    val sortedByBits = vals.sortBy(SortableDoubleBits.toSortable)
    // -0.0/0.0 compare equal as doubles but have distinct bit images;
    // compare numerically (== treats them equal) position by position
    assert(sortedByVal.zip(sortedByBits).forall { case (a, b) => a == b })
    vals.foreach { d =>
      assert(SortableDoubleBits.fromSortable(SortableDoubleBits.toSortable(d))
        .equals(d)) // .equals: bit-exact round trip, including -0.0
    }
    // the Expression agrees with the driver-side map, and NaN -> null
    val got = Seq(1.5, -2.5, Double.NaN).toDF("d")
      .select(SortableDoubleBits.sortableBits(col("d"))).collect()
    assert(got(0).getLong(0) == SortableDoubleBits.toSortable(1.5))
    assert(got(1).getLong(0) == SortableDoubleBits.toSortable(-2.5))
    assert(got(2).isNullAt(0))
  }

  test("narrowing median equals the classic exact median on mixed groups") {
    // groups crossing the hot threshold both ways, odd and even sizes,
    // negatives, and values forcing multiple refinement passes
    val rows = Seq.tabulate(4000)(i => ("hot_even", hashDouble(i, 1, 1e6))) ++
      Seq.tabulate(3001)(i => ("hot_odd", hashDouble(i, 2, 1e3) - 500.0)) ++
      Seq.tabulate(40)(i => ("small", hashDouble(i, 3, 10.0))) ++
      Seq(("tiny", 42.0))
    val df = rows.toDF("k", "v")
    val got = narrowed(df, hotThreshold = 100, buckets = 16, finish = 8)
    val want = rows.groupBy(_._1).map { case (k, vs) =>
      k -> referenceMedian(vs.map(_._2))
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (k, m) =>
      assert(math.abs(got(k) - m) <= math.max(1e-9, math.abs(m) * 1e-12),
        s"group $k: got ${got(k)}, want $m")
    }
  }

  test("plateau, straddle, and two-sign groups resolve exactly") {
    val rows =
      // plateau: the median region is one repeated value
      Seq.tabulate(1200)(_ => ("plateau", 7.25)) ++
        Seq.tabulate(10)(i => ("plateau", i.toDouble)) ++
        // straddle: even count, two distinct middle values far apart
        Seq.tabulate(600)(_ => ("straddle", -100.0)) ++
        Seq.tabulate(600)(_ => ("straddle", 300.0)) ++
        // mixed signs around zero, even count -> average crosses zero
        Seq.tabulate(500)(i => ("signs", -(i + 1).toDouble)) ++
        Seq.tabulate(500)(i => ("signs", (i + 1).toDouble))
    val df = rows.toDF("k", "v")
    val got = narrowed(df, hotThreshold = 50, buckets = 8, finish = 4)
    assert(got("plateau") == 7.25)
    assert(got("straddle") == 100.0) // (-100 + 300) / 2
    assert(got("signs") == 0.0) // (-1 + 1) / 2
  }

  test("nulls and NaNs are excluded; a hot null key narrows, not buffers") {
    val schema = StructType(Seq(StructField("k", StringType, nullable = true),
      StructField("v", DoubleType, nullable = true)))
    val rows: Seq[Row] =
      Seq.tabulate(900)(i => Row(null, i.toDouble)) ++
        Seq(Row("a", 1.0), Row("a", null), Row("a", Double.NaN), Row("a", 3.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val got = Quantiles.exactMedianAnyScale(df, "k", "v",
      hotThreshold = 100, buckets = 8, finish = 16)
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(got(Some("a")) == 2.0) // null + NaN dropped -> median of (1, 3)
    assert(got(None) == referenceMedian((0 until 900).map(_.toDouble)))
  }

  test("general-p narrowing quantile matches the classic percentile across p") {
    val rows = Seq.tabulate(3000)(i => ("hot", hashDouble(i, 11, 1e5) - 5e4)) ++
      Seq.tabulate(33)(i => ("small", hashDouble(i, 12, 7.0)))
    val df = rows.toDF("k", "v")
    val classic = (p: Double) => df.groupBy("k")
      .agg(percentile(col("v"), lit(p)).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq(0.0, 0.25, 0.9, 0.99, 1.0).foreach { p =>
      val got = Quantiles.exactQuantileAnyScale(df, "k", "v", p,
        hotThreshold = 100, buckets = 16, finish = 8)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = classic(p)
      assert(got.keySet == want.keySet)
      want.foreach { case (k, q) =>
        assert(math.abs(got(k) - q) <= math.max(1e-9, math.abs(q) * 1e-12),
          s"p=$p group $k: got ${got(k)}, want $q")
      }
    }
  }

  test("multi-p shared-pass quantiles equal the per-p single calls") {
    val rows = Seq.tabulate(2500)(i => ("hot", hashDouble(i, 21, 3e4))) ++
      Seq.tabulate(60)(i => ("small", hashDouble(i, 22, 9.0)))
    val df = rows.toDF("k", "v")
    val ps = Seq(0.5, 0.9, 0.99)
    val multi = Quantiles.exactQuantilesAnyScale(df, "k", "v", ps,
      hotThreshold = 100, buckets = 16, finish = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    assert(multi.size == 6) // 2 groups x 3 quantiles
    ps.foreach { p =>
      val single = Quantiles.exactQuantileAnyScale(df, "k", "v", p,
        hotThreshold = 100, buckets = 16, finish = 8)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      single.foreach { case (k, q) =>
        assert(multi((k, p)) == q, s"p=$p group $k: multi=${multi((k, p))}, single=$q")
      }
    }
  }

  /** Lower weighted quantile by naive cumsum replay: min v with
    * cumw(v) >= max(1, ceil(p*W)).
    */
  private def referenceWeightedQ(vw: Seq[(Double, Long)], p: Double): Double = {
    val sorted = vw.sortBy(_._1)
    val total = sorted.map(_._2).sum
    val t = math.max(1L, math.ceil(p * total).toLong)
    var acc = 0L
    sorted.find { case (_, w) => acc += w; acc >= t }.get._1
  }

  test("weighted narrowing equals the cumsum replay on mixed groups") {
    // hot groups (narrowing + fold endgame), a small group (window
    // replay), value ties sharing the boundary, and weights > 1
    val rows = Seq.tabulate(3000)(i =>
        ("hot", hashDouble(i, 31, 1e5), 1L + (i % 5))) ++
      Seq.tabulate(800)(i => ("ties", (i % 7).toDouble, 2L + (i % 3))) ++
      Seq.tabulate(40)(i => ("small", hashDouble(i, 32, 9.0), 1L + (i % 2)))
    val df = rows.toDF("k", "v", "w")
    Seq(0.25, 0.5, 0.9).foreach { p =>
      val got = Quantiles.exactWeightedQuantilesAnyScale(df, "k", "v", "w",
        Seq(p), hotThreshold = 100, buckets = 8, finish = 16,
        route = Quantiles.HotRoute.Narrow)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val want = rows.groupBy(_._1).map { case (k, g) =>
        k -> referenceWeightedQ(g.map(t => (t._2, t._3)), p)
      }
      assert(got == want, s"p=$p: got $got, want $want")
    }
  }

  test("weighted narrowing drops null/NaN values and non-positive weights") {
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("v", DoubleType), StructField("w", LongType)))
    val rows: Seq[Row] =
      Seq.tabulate(500)(i => Row("h", i.toDouble, 1L)) ++
        Seq(Row("h", null, 5L), Row("h", Double.NaN, 5L),
          Row("h", -1.0, 0L), Row("h", -2.0, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val got = Quantiles.exactWeightedQuantilesAnyScale(df, "k", "v", "w",
      Seq(0.5), hotThreshold = 50, buckets = 8, finish = 16,
      route = Quantiles.HotRoute.Narrow)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // 500 unit weights: T = 250 -> v at index 249
    assert(got == Map("h" -> 249.0))
  }

  test("weighted hot route: CostAware equals Narrow; cost model regimes") {
    val rows = Seq.tabulate(3000)(i =>
        ("hot", hashDouble(i, 61, 1e5), 1L + (i % 5))) ++
      Seq.tabulate(40)(i => ("small", hashDouble(i, 62, 9.0), 1L + (i % 2)))
    val df = rows.toDF("k", "v", "w")
    def run(route: Quantiles.HotRoute): Map[(String, Double), Double] =
      Quantiles.exactWeightedQuantilesAnyScale(df, "k", "v", "w",
        Seq(0.25, 0.9), hotThreshold = 100, buckets = 8, finish = 16,
        route = route)
        .collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // at test scale the cost model sends the hot key to the replay, so
    // this pins the replay against the narrowing
    val narrow = run(Quantiles.HotRoute.Narrow)
    val auto = run(Quantiles.HotRoute.CostAware)
    assert(auto == narrow, "routing must be semantics-preserving")
    // the model itself, replayed at the two calibration regimes
    def narrows(n: Long, total: Long, heap: Double, par: Double): Boolean = {
      val spill = math.max(1.0, n * 48.0 / (heap * 0.3 / par))
      16.0 * (total + 3.0 * n) / par < n * spill
    }
    // the 32-core 48 GiB soak host with the Zipf 40M-row hot key must
    // pick the replay (measured 4.1x better, docs/SCALING.md)
    assert(!narrows(40000000L, 600000000L, 48e9, 32),
      "soak-host regime must take the replay")
    // small keys on the test JVM likewise
    assert(!narrows(3000L, 3040L, Runtime.getRuntime.maxMemory.toDouble,
      spark.sparkContext.defaultParallelism.toDouble))
    // the executor-sized 4 GiB MedianEdge child (local[8], 50M-distinct
    // hot key) must flip to the narrowing (measured 3.8x better)
    assert(narrows(50000000L, 60000000L, 4e9, 8))
  }

  test("fractional weights fail loudly instead of truncating") {
    val df = (Seq.tabulate(20)(i => ("k1", i.toDouble, 1.0)) :+
      (("k1", 99.0, 0.5))).toDF("k", "v", "w")
    // the check is the classification pass's eager `require`, so the
    // call itself throws, before any plan is handed back
    val e = intercept[IllegalArgumentException] {
      Quantiles.exactWeightedQuantilesAnyScale(df, "k", "v", "w", Seq(0.5))
    }
    assert(e.getMessage.contains("non-integral"))
  }

  test("weighted sketch: exact when every key fits the sample; " +
    "ident columns are required") {
    val rows = Seq.tabulate(300)(i => ("a", hashDouble(i, 71, 1e3), 1L + (i % 4))) ++
      Seq.tabulate(150)(i => ("b", hashDouble(i, 72, 50.0), 2L + (i % 3)))
    val df = rows.toDF("k", "v", "w")
    Seq(0.25, 0.5, 0.9).foreach { p =>
      val got = Quantiles.approxWeightedQuantiles(df, "k", "v", "w",
        Seq(p), ident = Seq("k", "v"), sampleK = 1024)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val want = rows.groupBy(_._1).map { case (k, g) =>
        k -> referenceWeightedQ(g.map(t => (t._2, t._3)), p)
      }
      assert(got == want, s"p=$p: sub-sample keys must be exact")
    }
    val e = intercept[IllegalArgumentException] {
      Quantiles.auto(df, "k", "v", Seq(0.5),
        mode = Quantiles.QuantileMode.Sketch(100), weight = Some("w"))
    }
    assert(e.getMessage.contains("ident"))
  }

  test("weighted sketch: rank error bounded with sampling engaged") {
    val rows = Seq.tabulate(6000)(i => ("h", hashDouble(i, 81, 1e6), 1L + (i % 7)))
    val df = rows.toDF("k", "v", "w")
    val est = Quantiles.approxWeightedQuantiles(df, "k", "v", "w",
      Seq(0.5, 0.9), ident = Seq("v", "w"), sampleK = 256)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val sorted = rows.map(t => (t._2, t._3)).sortBy(_._1)
    val total = sorted.map(_._2).sum.toDouble
    Seq(0.5, 0.9).foreach { p =>
      val rank = sorted.takeWhile(_._1 <= est(p)).map(_._2).sum / total
      // nominal error 1/sqrt(256) ≈ 6%; the draw is deterministic, so
      // this is a fixed number — assert a 2.5σ envelope
      assert(math.abs(rank - p) <= 0.16, s"p=$p rank=$rank")
    }
  }

  test("auto front door: Exact routes both paths, Sketch is rank-close") {
    val rows = Seq.tabulate(2000)(i => ("hot", hashDouble(i, 41, 1e4))) ++
      Seq.tabulate(50)(i => ("small", hashDouble(i, 42, 5.0)))
    val df = rows.toDF("k", "v")
    val exact = Quantiles.auto(df, "k", "v", Seq(0.5, 0.9),
      hotThreshold = 100, buckets = 16, finish = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    val classic = df.groupBy("k")
      .agg(percentile(col("v"), array(lit(0.5), lit(0.9))).as("q"))
      .collect().flatMap(r => Seq(
        (r.getString(0), 0.5) -> r.getSeq[Double](1)(0),
        (r.getString(0), 0.9) -> r.getSeq[Double](1)(1))).toMap
    assert(exact.keySet == classic.keySet)
    classic.foreach { case (kp, q) =>
      assert(math.abs(exact(kp) - q) <= math.max(1e-9, math.abs(q) * 1e-12),
        s"$kp: auto=${exact(kp)}, classic=$q")
    }
    // sketch mode: same shape, rank within the GK bound (loose check:
    // the estimate sits inside the value range and orders with p)
    val sk = Quantiles.auto(df, "k", "v", Seq(0.5, 0.9),
      mode = Quantiles.QuantileMode.Sketch(1000))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    assert(sk.keySet == classic.keySet)
    assert(sk(("hot", 0.5)) <= sk(("hot", 0.9)))
    // weighted sketch is refused loudly
    intercept[IllegalArgumentException] {
      Quantiles.auto(df, "k", "v", Seq(0.5),
        mode = Quantiles.QuantileMode.Sketch(100), weight = Some("v"))
    }
  }

  test("narrowing with more active pairs than the histogram cell cap") {
    // 6 hot keys x 5 ps = 30 pairs at 2^16 buckets overflow the 2^20
    // cell cap, so each pass derives fewer buckets than asked for;
    // results must not move
    val keys = (1 to 6).map(i => s"h$i")
    val rows = keys.zipWithIndex.flatMap { case (k, ki) =>
      Seq.tabulate(400 + 37 * ki)(i =>
        (k, hashDouble(i, 100 + ki, 1e4) - 5e3, 1L + (i % 4)))
    } ++ Seq.tabulate(30)(i => ("small", hashDouble(i, 99, 3.0), 1L))
    val df = rows.toDF("k", "v", "w")
    val ps = Seq(0.0, 0.1, 0.5, 0.77, 1.0)
    val got = Quantiles.exactQuantilesAnyScale(df, "k", "v", ps,
      hotThreshold = 100, buckets = 1 << 16, finish = 8)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val classic = df.groupBy("k")
      .agg(percentile(col("v"), lit(ps.toArray)).as("q"))
      .collect().flatMap(r => ps.zip(r.getSeq[Double](1)).map {
        case (p, q) => (r.getString(0), p) -> q
      }).toMap
    assert(got.keySet == classic.keySet && got.size == 35)
    classic.foreach { case (kp, q) =>
      assert(math.abs(got(kp) - q) <= math.max(1e-9, math.abs(q) * 1e-12),
        s"$kp: got ${got(kp)}, want $q")
    }
    val wgot = Quantiles.exactWeightedQuantilesAnyScale(df, "k", "v", "w",
      ps, hotThreshold = 100, buckets = 1 << 16, finish = 8,
      route = Quantiles.HotRoute.Narrow)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val wwant = rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
      ps.map(p => (k, p) -> referenceWeightedQ(g.map(t => (t._2, t._3)), p))
    }.toMap
    assert(wgot == wwant)
  }

  test("infinities and signed zeros in hot groups match the references") {
    // groups whose middle order statistics are both +Inf, both -Inf,
    // or -0.0 next to 0.0: v1 == v2 must return v1, never
    // Inf + (Inf - Inf) * frac = NaN
    val rows = Seq.tabulate(600)(_ => ("pinf", Double.PositiveInfinity)) ++
      Seq.tabulate(400)(i => ("pinf", i.toDouble)) ++
      Seq.tabulate(600)(_ => ("ninf", Double.NegativeInfinity)) ++
      Seq.tabulate(400)(i => ("ninf", i.toDouble)) ++
      Seq.tabulate(500)(_ => ("zeros", -0.0)) ++
      Seq.tabulate(500)(_ => ("zeros", 0.0)) ++
      Seq.tabulate(250)(i => ("zeros", -1.0 - i)) ++
      Seq.tabulate(250)(i => ("zeros", 1.0 + i))
    val df = rows.map(t => (t._1, t._2, 1L + (t._2.hashCode & 1)))
      .toDF("k", "v", "w")
    val ps = Seq(0.0, 0.5, 1.0)
    val classic = df.groupBy("k")
      .agg(percentile(col("v"), lit(ps.toArray)).as("q"))
      .collect().flatMap(r => ps.zip(r.getSeq[Double](1)).map {
        case (p, q) => (r.getString(0), p) -> q
      }).toMap
    val wwant = df.collect().groupBy(_.getString(0)).toSeq.flatMap {
      case (k, g) => ps.map(p => (k, p) ->
        referenceWeightedQ(g.map(r => (r.getDouble(1), r.getLong(2))), p))
    }.toMap
    // finish = 8 narrows to the plateau/straddle endgames; finish =
    // 4096 sends every pair straight to the collect-and-fold endgame
    Seq(8L, 4096L).foreach { finish =>
      val got = Quantiles.exactQuantilesAnyScale(df, "k", "v", ps,
        hotThreshold = 100, buckets = 16, finish = finish)
        .collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      assert(got.keySet == classic.keySet)
      // == is numeric: -0.0 == 0.0, Inf == Inf, and NaN fails
      classic.foreach { case (kp, q) =>
        assert(got(kp) == q, s"finish=$finish $kp: got ${got(kp)}, want $q")
      }
      val wgot = Quantiles.exactWeightedQuantilesAnyScale(df, "k", "v", "w",
        ps, hotThreshold = 100, buckets = 16, finish = finish,
        route = Quantiles.HotRoute.Narrow)
        .collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      assert(wgot.keySet == wwant.keySet)
      wwant.foreach { case (kp, q) =>
        assert(wgot(kp) == q, s"finish=$finish $kp: got ${wgot(kp)}, want $q")
      }
    }
  }

  test("q_median_narrow matches the classic percentile on lineitem") {
    val narrow = Quantiles.medianNarrow(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val classic = graft.sources.Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(narrow == classic && narrow.size == 3)
  }
}
