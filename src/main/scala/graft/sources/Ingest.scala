package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion-surface queries (§2.1): the reference's catalog-driven
  * ingest verbs (/root/reference/ingest_ecollision_oracle_data.py,
  * helper_db_operation.py:161-237) as declarative single-select plans.
  * Each is a thin composition over TypePolicy / SchemaAlign so the whole
  * projection stays inside the parquet scan's pruned read.
  */
object Ingest {

  /** Typed read under the canonical TypePolicy: integral→long,
    * float→double, lowercase names — the engine-side analog of the
    * reference's NUMBER→NUMERIC / float→DOUBLE type-mapping dicts.
    */
  def schemaMappedRead(spark: SparkSession, dir: String): DataFrame =
    TypePolicy.canonical(Tables.load(spark, dir, "customer"))
      .orderBy(col("c_custkey"))

  /** Bounded deterministic sample ingest (sample_size=888,
    * ingest_ecollision_oracle_data.py:96): ORDER BY key LIMIT n compiles
    * to TakeOrderedAndProject — a per-partition top-n plus one tiny
    * merge, no global sort, stable under any partition layout.
    */
  def sampleIngest(spark: SparkSession, dir: String, n: Int = 888): DataFrame =
    Tables.load(spark, dir, "orders")
      .orderBy(col("o_orderkey"))
      .limit(n)

  /** Dynamic projection onto a target schema (etl_ecollision_fusion_
    * table_collisions.py:117-121): intersect + cast + missing→null as
    * one select.
    */
  val projectionTarget: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", LongType),
    StructField("l_quantity", DoubleType),
    StructField("load_note", StringType)))

  def dynamicProjection(spark: SparkSession, dir: String): DataFrame =
    SchemaAlign.project(Tables.load(spark, dir, "lineitem"), projectionTarget)
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Lineage column (create_empty_tables_for_ecollision_fusion.py:32):
    * every fused table carries its source tag.
    */
  def withSource(df: DataFrame, tag: String): DataFrame =
    df.withColumn("source", lit(tag))

  def lineageColumn(spark: SparkSession, dir: String): DataFrame =
    withSource(Tables.load(spark, dir, "region"), "eCollision Oracle")
      .orderBy(col("r_regionkey"))

  /** Format-generic readers with EXPLICIT schemas — at 100 TB a schema
    * inference pass is a full extra read of the input, so the engine
    * never infers. Parquet carries its schema in the footer: the
    * engine's parquet reads ([[Tables.read]]) take it from one footer
    * on the driver instead of running Spark's inference job. CSV/JSON
    * are the interchange formats the reference's source databases
    * export to.
    */
  def loadCsv(spark: SparkSession, path: String,
      schema: StructType, header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .csv(path)

  def loadJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def loadOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Corrupt-tolerant JSON-lines read: PERMISSIVE mode with an explicit
    * `_corrupt_record` column, so malformed lines survive the scan as
    * quarantine rows instead of failing the job (FAILFAST) or silently
    * vanishing (DROPMALFORMED). At 100 TB some fraction of any real
    * feed is broken — the pipeline must count and route it, not die at
    * hour nine. Returns (clean rows, quarantined raw lines, release):
    * both frames come from the SAME single cached scan (Spark requires
    * a cache before filtering on the corrupt column); call `release()`
    * once both sinks are written to unpersist it — at cluster scale the
    * split is one persisted pass writing two sinks, then freed.
    */
  def loadJsonQuarantine(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame, () => Unit) = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not already contain _corrupt_record")
    val withCorrupt = StructType(
      schema.fields :+ StructField("_corrupt_record", StringType))
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
    val clean = raw.filter(col("_corrupt_record").isNull)
      .select(schema.fieldNames.map(col).toSeq: _*)
    val quarantine = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, quarantine, () => { raw.unpersist(); () })
  }

  /** JDBC round-trip (`src_jdbc_roundtrip`): batch-write a dimension
    * table into an embedded Derby database, FREEZE the database, and
    * read it back through the partitioned JDBC source — the
    * reference's whole DB-to-DB loop (helper_db_operation.py:9-157) as
    * one verified query. Derby stands in for the reference's
    * PostgreSQL target.
    *
    * Multi-JVM shape (the part that must scale): the READ goes through
    * `loadPartitioned` — one bounded-range query per partition — over
    * the read-only `jdbc:derby:jar:` subprotocol, so under
    * local-cluster every EXECUTOR JVM opens the archived database
    * independently and pulls its own slice, exactly as 1000 executors
    * would pull range slices from a network database. (The previous
    * `jdbc:derby:memory:` form existed only inside whichever JVM wrote
    * it — the one environmental exception in the round-7 local-cluster
    * gate, CLUSTER.md §1.)
    *
    * The WRITE is a driver-side batched insert: a 25-row dimension, and
    * the same single-process `execute_batch` loop the reference itself
    * runs (helper_db_operation.py:142). Embedded Derby accepts writes
    * from exactly one JVM (the engine locks the directory), so the
    * executor-parallel write path cannot target it from real
    * executors; that path — `Jdbc.write`/`Jdbc.upsert` from every
    * executor concurrently — is what a network target gets, and stays
    * spec-covered (JdbcSpec) plus exercised by the streaming JDBC
    * sinks.
    */
  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val root = java.nio.file.Paths.get(graft.Scratch.dir("jdbc_rt"))
    // the insert collects the dimension: dimension-sized by contract
    val readCfg = JdbcConfig(derbySnapshot(root, "nation_rt", nation.schema,
      nation.collect(), "db.zip"), "nation_rt")
    Jdbc.loadPartitioned(spark, readCfg, "n_nationkey",
        lowerBound = 0L, upperBound = 25L, numPartitions = 4)
      .orderBy(col("n_nationkey"))
  }

  /** First-ingest timestamp normalization: rewrite a table whose time
    * columns arrive in a pushdown-DEAD parquet form into the one form
    * whose filters actually row-group-skip — session-TZ TIMESTAMP at
    * MICROS precision, range-clustered on the time column.
    *
    * Why this exists (three measured inert classes, docs/SCALING.md
    * rounds 10-12): INT96 timestamps carry no usable min/max stats;
    * TIMESTAMP_NTZ filters are advertised in `PushedFilters` but
    * ParquetFilters drops the LocalDateTime literal, skipping nothing;
    * and INT64 TIMESTAMP(NANOS) builds NO reader predicate at all (an
    * out-of-range filter still read 1.0M/1.0M sorted rows). A source
    * in any of those forms keeps every time filter post-scan FOREVER —
    * at 100 TB that is the single largest unclaimed scan lever — and
    * no session conf can fix the nanos case (the engine reads nanos as
    * epoch-long via `nanosAsLong`; the annotation, not the Catalyst
    * type, gates the reader predicate). The layout answer is upstream:
    * pay one rewrite at FIRST ingest, then every later query skips.
    *
    * What it does, per column of `tsCols`:
    *  - epoch-nanos LONG (how this engine reads a TIMESTAMP(NANOS)
    *    source) → `timestamp_micros(c DIV 1000)` — the same
    *    micro-floor DuckDB's reader applies, so cross-engine values
    *    agree;
    *  - TIMESTAMP_NTZ → cast to session-TZ TIMESTAMP (value-identical
    *    under the engine's UTC session);
    *  - session-TZ TIMESTAMP → passthrough (already the live type).
    * The write goes through [[Sink.writeSorted]]: the session emits
    * TIMESTAMP_MICROS (GraftSession `outputTimestampType`), and the
    * range-partition + in-file sort + small row groups give each row
    * group a narrow time span — the measured 78-80x `scan_sorted_ts`
    * skipping shape, claimed for event time. Cost: one range shuffle
    * of the table, paid once at ingest (the same bill as bucketing);
    * a 1000-executor cluster pays it 1000-wide.
    *
    * `src_ts_normalize` gates the VALUE side (normalize → read back →
    * hourly rollup vs DuckDB over the raw source); the `Soak layout`
    * `scan_events_*` legs measure the rows-read side at scale.
    */
  def normalizeTimestamps(spark: SparkSession, srcPath: String,
      destPath: String, tsCols: Seq[String] = Seq("ts"),
      sortBy: Option[String] = None, numFiles: Int = 32): DataFrame = {
    require(tsCols.nonEmpty, "name at least one time column")
    val raw = Tables.read(spark, srcPath)
    val missing = tsCols.filterNot(raw.columns.contains)
    require(missing.isEmpty, s"time columns not in source: $missing")
    val cols = raw.schema.fields.toIndexedSeq.map { f =>
      if (!tsCols.contains(f.name)) col(f.name)
      else f.dataType match {
        case LongType => // nanosAsLong read of a TIMESTAMP(NANOS) source
          timestamp_micros(expr(s"`${f.name}` DIV 1000")).as(f.name)
        case TimestampNTZType => col(f.name).cast(TimestampType).as(f.name)
        case TimestampType => col(f.name)
        case other => throw new IllegalArgumentException(
          s"column ${f.name}: $other is not a normalizable time form " +
            "(expected epoch-nanos LONG, TIMESTAMP_NTZ, or TIMESTAMP)")
      }
    }
    val df = raw.select(cols: _*)
    val cluster = sortBy.getOrElse(tsCols.head)
    Sink.writeSorted(df, destPath, Seq(cluster), numFiles)
    Tables.read(spark, destPath)
  }

  /** `src_ts_normalize` gate surface: run the first-ingest
    * normalization on the events table and roll the result up hourly —
    * the oracle computes the same rollup from the RAW source, so the
    * gate pins that normalization changes the layout and the wire
    * type, never a value. (The driver corpus' events arrived
    * TIMESTAMP(NANOS) in earlier rounds and MICROS-naive now; the
    * operator normalizes either, so the gate holds across both.)
    */
  def tsNormalize(spark: SparkSession, dir: String): DataFrame = {
    val dest = java.nio.file.Paths.get(graft.Scratch.dir("ts_norm"))
      .resolve("events.parquet").toString
    val norm = normalizeTimestamps(spark, s"$dir/events.parquet", dest,
      tsCols = Seq("ts"), numFiles = 4)
    norm.groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("bucket"))
  }

  /** `src_zorder_roundtrip` gate surface: the two-column clustered
    * layout in the oracle loop. Events rewrite through
    * [[Sink.writeZOrderedBy]] on the Morton interleave of
    * (user_id, event time), both min/max-scaled to a shared 16-bit
    * budget (4 scalars to the driver by contract), then the read-back
    * aggregates per user bucket — the oracle runs the same aggregate
    * over the RAW source, so the gate pins that Z-ordering is a pure
    * LAYOUT change (row order + file assignment), never a value
    * change. The rows-read payoff is measured separately by the
    * `Soak layout` `scan_events_2d_*` legs: a conjunctive
    * (user range AND time window) filter skips on BOTH dimensions
    * only under this layout.
    */
  def zorderRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val out = java.nio.file.Paths.get(graft.Scratch.dir("zorder_rt"))
      .resolve("events_z.parquet").toString
    val tMicros = unix_micros(col("ts"))
    val mm = e.agg(min(col("user_id")), max(col("user_id")),
      min(tMicros), max(tMicros)).head()
    def scale(c: Column, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else ((c - lit(lo)) * lit(65535L) / lit(hi - lo)).cast("long")
    val z = Sink.zValue(
      scale(col("user_id"), mm.getLong(0), mm.getLong(1)),
      scale(tMicros, mm.getLong(2), mm.getLong(3)), bits = 16)
    Sink.writeZOrderedBy(e, out, z, numFiles = 8)
    Tables.read(spark, out)
      .groupBy((col("user_id") % 16).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .orderBy(col("bucket"))
  }

  /** `src_jdbc_incremental` gate surface: the TWO-EPOCH high-watermark
    * ingest loop end to end — the pull-side incremental the engine's
    * snapshot-diff and partition-overwrite verbs assumed someone else
    * ran. Epoch 1 bootstraps (full pull of the frozen source), the
    * source then GROWS, epoch 2 pulls ONLY rows past the recorded
    * watermark ([[Jdbc.loadIncremental]] pushes the `>` predicate into
    * the database; [[Jdbc.maxWatermark]] records the epoch boundary),
    * and both deltas land in a parquet target via `Sink.dedupUpsert` —
    * which must also REPLACE the stale rows the target was pre-seeded
    * with (a simulated earlier bad load of epoch-2 keys: totalprice
    * −1, ancient watermark). The final target must equal the source
    * subset exactly, so the oracle replays it verbatim from orders: a
    * row pulled twice, a missed delta, or a surviving stale seed all
    * hash-mismatch.
    *
    * Multi-JVM shape: both pulls read a FROZEN zip through
    * `jdbc:derby:jar:` (every executor opens its own read-only copy —
    * the src_jdbc_roundtrip discipline); the executor-parallel
    * JDBC-target upsert with real in-place UPDATEs is JdbcSpec's
    * two-epoch spec (embedded Derby accepts writers from one JVM
    * only). Source growth between epochs is the same driver-side
    * batched insert the reference itself runs.
    */
  def jdbcIncremental(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 8 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
    val cutoff = lit("1998-06-30").cast("timestamp")
    val root = java.nio.file.Paths.get(graft.Scratch.dir("jdbc_incr"))

    // the gate subset is dimension-sized (~1.9k rows at sf0.01), so
    // the two epoch slices collect like the roundtrip's dimension —
    // and the contract is ASSERTED (the quantile paths' discipline):
    // a caller pointing this at a fact-sized table fails loudly
    // before the driver heap does
    val maxEpochRows = 1000000L
    val nSubset = orders.count()
    require(nSubset <= maxEpochRows,
      s"jdbcIncremental's epoch slices collect to the driver by " +
        s"contract (dimension-sized); got $nSubset rows > $maxEpochRows")
    val epoch1 = orders.filter(col("o_orderdate") <= cutoff).collect()
    val epoch2 = orders.filter(col("o_orderdate") > cutoff).collect()

    // source v1: epoch-1 rows only, frozen for the bootstrap pull
    val srcV1 = JdbcConfig(derbySnapshot(root, "orders_src", orders.schema,
      epoch1, "db_v1.zip"), "orders_src")

    // parquet target pre-seeded with stale epoch-2 rows (an earlier
    // bad load the upsert must repair): totalprice −1, ancient date
    val destPath = root.resolve("orders_dst.parquet").toString
    val stale = orders.filter(col("o_orderdate") > cutoff &&
        col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", lit(-1.0))
      .withColumn("o_orderdate", lit("1990-01-01").cast("timestamp"))
    Sink.overwrite(stale, destPath)

    // epoch 1: bootstrap pull + land
    val pull1 = Jdbc.loadIncremental(spark, srcV1, "o_orderdate", None)
    Sink.dedupUpsert(spark, destPath, pull1,
      keys = Seq("o_orderkey"), versionCol = "o_orderdate")
    val wm1 = Jdbc.maxWatermark(srcV1, "o_orderdate")
      .getOrElse(sys.error("epoch 1 left no watermark"))

    // the source grows: epoch-2 rows arrive after the bootstrap
    val srcV2 = JdbcConfig(derbySnapshot(root, "orders_src", orders.schema,
      epoch2, "db_v2.zip"), "orders_src")

    // epoch 2: delta pull (only rows past wm1 cross the wire) + land
    val pull2 = Jdbc.loadIncremental(spark, srcV2, "o_orderdate", Some(wm1))
    Sink.dedupUpsert(spark, destPath, pull2,
      keys = Seq("o_orderkey"), versionCol = "o_orderdate")

    Tables.read(spark, destPath).orderBy(col("o_orderkey"))
  }

  /** One Derby snapshot: a driver-side batched insert of `rows` into
    * `table` of the database at `root/db` (created, with the table
    * from `schema`, on the first snapshot there), then a freeze — shutting the
    * database down flushes it consistent and releases the directory
    * lock (success surfaces as SQLSTATE 08006) — and an archive to
    * `root/zipName`. Returns the read-only `jdbc:derby:jar:` URL every
    * JVM can open on its own.
    */
  private def derbySnapshot(root: java.nio.file.Path, table: String,
      schema: StructType, rows: Array[org.apache.spark.sql.Row],
      zipName: String): String = {
    val dbDir = root.resolve("db")
    val create = !java.nio.file.Files.exists(dbDir)
    val conn = java.sql.DriverManager.getConnection(
      s"jdbc:derby:$dbDir${if (create) ";create=true" else ""}")
    try {
      if (create) {
        val st = conn.createStatement()
        try st.execute(Ddl.createTable(table, schema, Ddl.Derby,
          ifNotExists = false))
        finally st.close()
      }
      val cols = schema.fieldNames.toSeq
      val ins = conn.prepareStatement(
        s"INSERT INTO $table ${cols.map(c => "\"" + c + "\"")
          .mkString("(", ", ", ")")}" +
          s" VALUES ${cols.map(_ => "?").mkString("(", ", ", ")")}")
      try {
        conn.setAutoCommit(false)
        rows.foreach { row =>
          cols.indices.foreach { i =>
            ins.setObject(i + 1, row.get(i) match {
              case t: java.time.Instant => java.sql.Timestamp.from(t)
              case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
              case v => v
            })
          }
          ins.addBatch()
        }
        ins.executeBatch()
        conn.commit()
      } finally ins.close()
    } finally conn.close()
    try {
      java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true")
      ()
    } catch { case _: java.sql.SQLException => () }
    val zipPath = root.resolve(zipName)
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    try {
      java.nio.file.Files.walk(dbDir).filter(p =>
        java.nio.file.Files.isRegularFile(p)).forEach { p =>
        zos.putNextEntry(new java.util.zip.ZipEntry(
          "db/" + dbDir.relativize(p).toString.replace('\\', '/')))
        java.nio.file.Files.copy(p, zos)
        zos.closeEntry()
      }
    } finally zos.close()
    s"jdbc:derby:jar:($zipPath)db"
  }

  /** Semi-structured property extraction: pull typed fields out of a
    * JSON string column with an explicit schema (no schema inference
    * pass — at 100 TB a second inference scan is a full extra read).
    */
  def jsonPropsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("prop_k"))
      .orderBy(col("event_id"))

  /** CSV interchange roundtrip (`src_csv_roundtrip`): write a typed
    * projection out as headered CSV (the lowest-common-denominator
    * export every downstream team eventually asks for), read it back
    * under the ORIGINAL schema, and aggregate — the oracle runs the
    * same aggregate over the source parquet, so any mangling the text
    * format introduces (type coercion, timestamp formatting, quoting)
    * hash-fails the gate rather than hiding. Timestamps cross the text
    * boundary as an explicit UTC pattern: the default writer pattern
    * and reader inference round-trip too, but pinning the format makes
    * the contract visible and session-TZ independent. Both the write
    * and the read are executor-parallel (one file per partition) —
    * linear at any corpus size.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderdate"))
    val out = java.nio.file.Paths.get(graft.Scratch.dir("csv_rt"))
      .resolve("orders_csv").toString
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    o.write.mode("overwrite")
      .option("header", "true").option("timestampFormat", tsFmt)
      .csv(out)
    val back = spark.read
      .option("header", "true").option("timestampFormat", tsFmt)
      .schema(o.schema).csv(out)
    back.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"),
        min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("min_day"),
        max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("max_day"))
      .orderBy(col("o_orderpriority"))
  }

  /** ORC interchange roundtrip (`src_orc_roundtrip`): same contract as
    * the CSV gate but through the columnar sibling format — types ride
    * natively (no text boundary), so this pins that the engine's
    * second columnar format preserves values bit-for-bit under the
    * same aggregate-vs-source oracle.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"))
    val out = java.nio.file.Paths.get(graft.Scratch.dir("orc_rt"))
      .resolve("lineitem_orc").toString
    l.write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }
}
