package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Ingest, SchemaAlign, TypePolicy}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("catalogColumns reports engine-neutral types for every column") {
    val cat = graft.sources.SchemaAlign
      .catalogColumns(spark, sf, Seq("orders", "embeddings", "events"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
      .toMap
    assert(cat(("orders", "o_orderkey")) == "BIGINT")
    assert(cat(("orders", "o_orderpriority")) == "VARCHAR")
    assert(cat(("embeddings", "embedding")) == "FLOAT[]")
    // events.ts is normalized to timestamp on load, not surfaced as
    // the raw epoch-nanos long.
    assert(cat(("events", "ts")) == "TIMESTAMP")
  }

  test("canonical TypePolicy widens ints and floats") {
    val df = Seq((1, 2.0f, "x")).toDF("I", "F", "S")
    val out = TypePolicy.canonical(df)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      Seq(("i", LongType), ("f", DoubleType), ("s", StringType)))
  }

  test("SchemaAlign.project casts, null-fills, drops, and reorders") {
    val df = Seq((1, "x", 9.9)).toDF("a", "b", "extra")
    val target = StructType(Seq(
      StructField("b", StringType), StructField("a", LongType),
      StructField("missing", DoubleType)))
    val out = SchemaAlign.project(df, target)
    assert(out.columns.toSeq == Seq("b", "a", "missing"))
    assert(out.schema("a").dataType == LongType)
    val r = out.head()
    assert(r.getString(0) == "x" && r.getLong(1) == 1L && r.isNullAt(2))
  }

  test("sampleIngest is deterministic and bounded") {
    val a = Ingest.sampleIngest(spark, sf, n = 100)
      .select("o_orderkey").as[Long].collect().toSeq
    val b = Ingest.sampleIngest(spark, sf, n = 100)
      .select("o_orderkey").as[Long].collect().toSeq
    assert(a == b && a.length == 100 && a == a.sorted)
  }

  test("jsonPropsExtract pulls typed values without inference") {
    val out = Ingest.jsonPropsExtract(spark, sf)
    assert(out.schema("prop_k").dataType == LongType)
    assert(out.filter(col("prop_k").isNull).count() == 0)
  }

  test("csv and json round-trip with explicit schemas") {
    val region = graft.sources.Tables.load(spark, sf, "region")
    val base = java.nio.file.Files.createTempDirectory("graft-io")
    val csvPath = base.resolve("r.csv").toString
    val jsonPath = base.resolve("r.json").toString
    region.write.option("header", "true").csv(csvPath)
    region.write.json(jsonPath)
    val expect = region.orderBy("r_regionkey").collect().toSeq
    val fromCsv = Ingest.loadCsv(spark, csvPath, region.schema)
      .orderBy("r_regionkey").collect().toSeq
    val fromJson = Ingest.loadJson(spark, jsonPath, region.schema)
      .orderBy("r_regionkey").collect().toSeq
    val orcPath = base.resolve("r.orc").toString
    region.write.orc(orcPath)
    val fromOrc = Ingest.loadOrc(spark, orcPath, region.schema)
      .orderBy("r_regionkey").collect().toSeq
    assert(fromCsv == expect && fromJson == expect && fromOrc == expect)
  }

  test("loadJsonQuarantine routes malformed lines instead of failing") {
    val base = java.nio.file.Files.createTempDirectory("graft-quarantine")
    val p = base.resolve("feed.jsonl")
    java.nio.file.Files.writeString(p,
      """{"id": 1, "name": "ok"}
        |not json at all
        |{"id": 2, "name": "also ok"}
        |{"id": "wrong-type"
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val (clean, quarantine, release) =
      Ingest.loadJsonQuarantine(spark, p.toString, schema)
    assert(clean.count() == 2)
    assert(clean.columns.toSeq == Seq("id", "name"))
    assert(clean.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val bad = quarantine.select("raw_line").as[String].collect()
    assert(bad.length == 2)
    assert(bad.exists(_.contains("not json at all")))
    release()
    // a schema that already carries _corrupt_record is rejected loudly
    intercept[IllegalArgumentException] {
      Ingest.loadJsonQuarantine(spark, p.toString, StructType(Seq(
        StructField("id", LongType),
        StructField("_corrupt_record", StringType))))
    }
  }

  test("loadEvolved merges additive schema versions and prunes columns") {
    val base = java.nio.file.Files.createTempDirectory("graft-evolve")
    val v1 = base.resolve("v1").toString
    val v2 = base.resolve("v2").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(v1)
    Seq((3L, "c", 9.5)).toDF("id", "v", "score").write.parquet(v2)
    val merged = SchemaAlign.loadEvolved(spark, Seq(v1, v2))
    // new column surfaces; v1 rows carry null for it
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val rows = merged.orderBy("id")
      .select("id", "score").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(1) && rows(2).getDouble(1) == 9.5)
    // projecting only v1 columns never reads the v2-only column
    val pruned = SchemaAlign.loadEvolved(spark, Seq(v1, v2)).select("id", "v")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema") && !scan.contains("score"), scan.take(600))
    // optional target alignment casts and reorders in the same pass
    val target = StructType(Seq(StructField("score", DoubleType),
      StructField("id", LongType)))
    val aligned = SchemaAlign.loadEvolved(spark, Seq(v1, v2), Some(target))
    assert(aligned.columns.toSeq == Seq("score", "id"))
  }

  test("dynamicProjection matches the declared target schema") {
    val out = Ingest.dynamicProjection(spark, sf)
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Ingest.projectionTarget.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("ColumnMapping renames, casts, and derives in one projection") {
    import spark.implicits._
    import graft.sources.ColumnMapping
    val df = Seq((1, "a", 2.5f)).toDF("fatal_comment", "name", "score")
    val m = ColumnMapping(
      renames = Map("fatal_comment" -> "fatal_comments"),
      casts = Map("fatal_comments" -> LongType, "score" -> DoubleType),
      derives = Seq("source" -> lit("eCollision Oracle")))
    val out = m(df)
    assert(out.columns.toSeq ==
      Seq("fatal_comments", "name", "score", "source"))
    assert(out.schema("fatal_comments").dataType == LongType)
    assert(out.schema("score").dataType == DoubleType)
    val r = out.head()
    assert(r.getLong(0) == 1L && r.getString(3) == "eCollision Oracle")
  }

  test("ColumnMapping loads from a maintained CSV artifact") {
    import spark.implicits._
    import graft.sources.ColumnMapping
    val dir = java.nio.file.Files.createTempDirectory("graft_colmap").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mapping.csv"),
      "from,to,cast\nfatal_comment,fatal_comments,bigint\nscore,score,double\n")
    val m = ColumnMapping.fromCsv(spark, s"$dir/mapping.csv")
    val out = m(Seq((1, "x", 2.5f)).toDF("fatal_comment", "name", "score"))
    assert(out.columns.toSeq == Seq("fatal_comments", "name", "score"))
    assert(out.schema("fatal_comments").dataType == LongType)
    assert(out.schema("score").dataType == DoubleType)
    assert(out.head().getLong(0) == 1L)
  }

  test("project through a mapping lands mapped names on the target") {
    import spark.implicits._
    import graft.sources.ColumnMapping
    val src = Seq((7, "x")).toDF("fatal_comment", "extra")
    val target = StructType(Seq(
      StructField("fatal_comments", LongType),
      StructField("missing_col", StringType)))
    val out = SchemaAlign.project(src, target,
      ColumnMapping(renames = Map("fatal_comment" -> "fatal_comments")))
    assert(out.schema.fieldNames.toSeq == Seq("fatal_comments", "missing_col"))
    val r = out.head()
    assert(r.getLong(0) == 7L && r.isNullAt(1))
  }

  test("normalizeTimestamps rewrites NTZ and epoch-nanos long columns " +
    "to clustered micros timestamps, values intact") {
    val root = java.nio.file.Files.createTempDirectory("graft_norm_spec")
    val srcP = root.resolve("src.parquet").toString
    val dstP = root.resolve("dst.parquet").toString
    // an engine-written NTZ column is footer-pinned to NTZ regardless
    // of the session read conf (round-12 finding), so this exercises
    // the NTZ branch for real; ts_nanos is the nanosAsLong read shape
    val base = 1700000000000000L // epoch micros
    spark.range(100).select(
        col("id"),
        timestamp_micros(lit(base) + col("id") * 1000000L)
          .cast(org.apache.spark.sql.types.TimestampNTZType).as("ts_ntz"),
        ((lit(base) + col("id") * 1000000L) * 1000L + lit(123L))
          .as("ts_nanos"))
      .write.mode("overwrite").parquet(srcP)
    val norm = graft.sources.Ingest.normalizeTimestamps(spark, srcP, dstP,
      tsCols = Seq("ts_ntz", "ts_nanos"), numFiles = 2)
    import org.apache.spark.sql.types._
    assert(norm.schema("ts_ntz").dataType == TimestampType)
    assert(norm.schema("ts_nanos").dataType == TimestampType)
    val got = norm.select(col("id"),
        unix_micros(col("ts_ntz")).as("a"), unix_micros(col("ts_nanos")).as("b"))
      .orderBy("id").collect()
    got.foreach { r =>
      val want = base + r.getLong(0) * 1000000L
      assert(r.getLong(1) == want, "NTZ value must be preserved")
      assert(r.getLong(2) == want, "nanos must micro-floor like DuckDB")
    }
    // the rewrite must leave the time column clustered: each output
    // file covers a disjoint ts range (range partition + in-file sort)
    val byFile = norm.select(input_file_name().as("f"), col("ts_ntz"))
      .groupBy("f").agg(min("ts_ntz").as("lo"), max("ts_ntz").as("hi"))
      .orderBy("lo").collect()
    assert(byFile.length == 2)
    assert(!byFile(0).getAs[java.sql.Timestamp]("hi")
      .after(byFile(1).getAs[java.sql.Timestamp]("lo")))
  }

  test("csv roundtrip preserves the aggregate of the source table") {
    val got = graft.sources.Ingest.csvRoundtrip(spark, sf).collect()
    val want = graft.sources.Tables.load(spark, sf, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("s"),
        min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("lo"),
        max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("hi"))
      .orderBy(col("o_orderpriority")).collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq,
      "CSV text boundary must not change a single aggregate cell")
  }

  test("orc roundtrip preserves the aggregate of the source table") {
    val got = graft.sources.Ingest.orcRoundtrip(spark, sf).collect()
    val want = graft.sources.Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("q"),
        round(sum(col("l_extendedprice")), 2).as("s"))
      .orderBy(col("l_returnflag")).collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("Tables.read takes Spark's inferred schema from one footer") {
    import graft.sources.Tables
    def same(p: String): Unit = {
      val inferred = spark.read.parquet(p).schema
      assert(Tables.read(spark, p).schema == inferred, p)
    }
    // the corpus, events' TIMESTAMP(NANOS) (nanosAsLong) included
    Tables.all.foreach(t => same(s"$sf/$t.parquet"))
    val base = java.nio.file.Files.createTempDirectory("graft-read").toString
    // a Spark-written multi-file directory
    spark.range(0, 100, 1, 3).write.parquet(s"$base/multi")
    assert(Tables.dataFiles(spark, s"$base/multi").length == 3)
    same(s"$base/multi")
    // hive-partitioned (Incremental.run's target): Spark adds `p`
    spark.range(60).select(col("id"), (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(s"$base/parted")
    same(s"$base/parted")
    assert(Tables.read(spark, s"$base/parted").columns.toSeq == Seq("id", "p"))
    // engine-written NTZ: the footer's Spark-schema metadata pins it
    Tables.load(spark, sf, "lineitem").limit(10)
      .select(col("l_shipdate").cast(TimestampNTZType).as("ts_ntz"),
        col("l_shipdate").as("ts_ltz"))
      .write.parquet(s"$base/ntz")
    same(s"$base/ntz")
  }

  test("Tables.load and catalogColumns submit no Spark job") {
    val sc = spark.sparkContext
    def jobsOf(group: String)(body: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    jobsOf("graft-footer-read") {
      graft.sources.Tables.all.foreach(graft.sources.Tables.load(spark, sf, _))
      SchemaAlign.catalogColumns(spark, sf, graft.sources.Tables.all)
    }
    // Spark's inference runs a job: once the listener has seen it, it
    // has seen every job submitted before it
    jobsOf("graft-inferred-read") { spark.read.parquet(s"$sf/orders.parquet") }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("graft-inferred-read").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("graft-inferred-read").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup("graft-footer-read").isEmpty)
  }

  test("Tables.read on an empty directory raises Spark's inference error") {
    val empty = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      graft.sources.Tables.read(spark, empty))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
  }

  test("fileStats and rowGroupStats read every file of a table directory") {
    val base = java.nio.file.Files.createTempDirectory("graft-stats").toString
    spark.range(0, 100, 1, 3).write.parquet(s"$base/t.parquet")
    val stats = SchemaAlign.fileStats(spark, base, Seq("t")).head()
    assert((stats.getLong(1), stats.getLong(2)) == ((100L, 1L)))
    val groups = SchemaAlign.rowGroupStats(spark, base, "t", "id").collect()
    // one row group per file, numbered in file-name order
    val perFile = graft.sources.Tables.dataFiles(spark, s"$base/t.parquet")
      .map { f =>
        spark.read.parquet(f.getPath.toString)
          .agg(count(lit(1)), min(col("id")), max(col("id")))
          .as[(Long, Long, Long)].head()
      }
    assert(groups.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq ==
      perFile.zipWithIndex.map { case ((n, lo, hi), i) =>
        (i.toLong, n, lo, hi, 0L) })
  }
}
