package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch table access for the graft engine.
  *
  * The reference ingests source tables by reading the source catalog and
  * re-declaring each table in the target with a type-mapping policy
  * (/root/reference/helper_db_operation.py:161-237,
  * ingest_ecollision_oracle_data.py:16-46). Here the catalog is the
  * parquet footer; the policy is declarative casts applied in a single
  * `select`, so column pruning and filter pushdown still reach the scan.
  *
  * The footer is read on the driver, with no Spark job: [[read]] opens
  * the one file Spark's own (non-merging) schema inference would open
  * and converts its footer with Spark's converter, then hands the
  * schema to the reader. `spark.read.parquet` without a schema would
  * run that same one-footer read as a whole job per table.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    // events.ts arrives as epoch-nanos long (see GraftSession nanosAsLong
    // note); floor-divide to micros. Presented as session-TZ TIMESTAMP
    // (UTC session — same naive value as every other engine timestamp
    // since the inferTimestampNTZ=false flip; see GraftSession).
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df
  }

  /** A single-schema parquet table (one file, or a directory of them,
    * hive-partitioned or not) read with the schema Spark would infer,
    * taken from one footer on the driver. The footer is the one Spark's
    * non-merging inference touches: `_common_metadata`, else
    * `_metadata`, else the first data file by path. The conversion is
    * Spark's own, so the footer's Spark-schema metadata, `nanosAsLong`
    * and `inferTimestampNTZ` read exactly as they do there; Spark adds
    * partition columns from the directory names. With no data file, or
    * an unreadable footer, this is `spark.read.parquet(path)`, so the
    * error is Spark's own. Tables whose files differ in schema go
    * through [[SchemaAlign.loadEvolved]] instead.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    scala.util.Try(footerSchema(spark, path)).toOption.flatten match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      // no readable footer: Spark's inference raises Spark's own error
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val all = leafFiles(conf, path)
    def named(n: String) = all.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(all.find(f => !summary(f))).map { f =>
        // the footer read Spark's inference task makes, minus the job
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** The parquet data files of a table path, sorted by path: the path
    * itself if it is a file, else every file below it that Spark's
    * listing keeps (no `_`/`.` names outside `k=v` directories), less
    * the `_metadata`/`_common_metadata` summaries.
    */
  def dataFiles(spark: SparkSession,
      path: String): Seq[org.apache.hadoop.fs.FileStatus] =
    leafFiles(spark.sparkContext.hadoopConfiguration, path)
      .filterNot(summary)

  private def summary(f: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = f.getPath.getName
    n == "_metadata" || n == "_common_metadata"
  }

  // Spark's leaf-file listing (HadoopFSUtils.shouldFilterOutPathName),
  // sorted by path as ParquetUtils.splitFiles sorts it.
  private def leafFiles(conf: org.apache.hadoop.conf.Configuration,
      path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    def kept(n: String): Boolean =
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) ||
        n.startsWith("_common_metadata") || n.startsWith("_metadata")
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def walk(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filter(c => kept(c.getPath.getName)).flatMap(walk)
    walk(fs.getFileStatus(root)).sortBy(_.getPath.toString)
  }
}

/** Declarative type-normalization policy: the Spark-first analog of the
  * reference's `map_oracle_to_postgres` / `map_analytics_db_to_postgres`
  * dictionaries (helper_db_operation.py:161-237). Maps source types to
  * engine-canonical types and normalizes column names.
  */
final case class TypePolicy(
    typeMap: DataType => Option[DataType],
    nameFn: String => String = _.toLowerCase) {

  def apply(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val target = typeMap(f.dataType)
      val c = target.map(t => col(f.name).cast(t)).getOrElse(col(f.name))
      c.as(nameFn(f.name))
    }
    df.select(cols.toIndexedSeq: _*)
  }
}

object TypePolicy {
  /** Canonical policy: integral types widen to long, floats to double —
    * the same "lose no data, keep arithmetic uniform" stance as the
    * reference's NUMBER→NUMERIC / float→DOUBLE PRECISION rows.
    */
  val canonical: TypePolicy = TypePolicy({
    case ByteType | ShortType | IntegerType => Some(LongType)
    case FloatType => Some(DoubleType)
    case _ => None
  })
}

/** Declarative column mapping: the reference drives its cross-DB renames
  * from a MAINTAINED mapping artifact (supplementary/column_mapping_btw_
  * analytics_and_oracle_tables.xlsx) but hardcodes the one it needs
  * (fatal_comment→fatal_comments, etl_ecollision_fusion_table_collisions
  * .py:90-97). This is that artifact as data — renames, per-column
  * casts, and derived columns — applied in ONE `select`, so pruning and
  * pushdown still reach the scan and a 500-column mapping costs the
  * same plan shape as one rename.
  */
final case class ColumnMapping(
    renames: Map[String, String] = Map.empty,
    casts: Map[String, DataType] = Map.empty,
    derives: Seq[(String, Column)] = Nil) {

  /** Rename + cast every source column (casts key on the POST-rename
    * name, like the mapping spreadsheet's target side), then append the
    * derived columns.
    */
  def apply(df: DataFrame): DataFrame = {
    val base: Seq[Column] = df.columns.toIndexedSeq.map { c =>
      val renamed = renames.getOrElse(c, c)
      casts.get(renamed).fold(col(c))(col(c).cast).as(renamed)
    }
    val derived = derives.map { case (name, e) => e.as(name) }
    df.select(base ++ derived: _*)
  }
}

object ColumnMapping {
  /** Load the mapping from a maintained CSV artifact — the reference's
    * column_mapping_btw_analytics_and_oracle_tables.xlsx as a plain
    * `from,to[,cast]` file. The file is catalog-sized, so it reads with
    * an explicit schema and collects on the driver; cast names are the
    * engine's DDL vocabulary (`CatalystSqlParser` types: bigint,
    * double, varchar/string, date, timestamp, decimal(p,s), ...).
    */
  def fromCsv(spark: org.apache.spark.sql.SparkSession,
      path: String): ColumnMapping = {
    val schema = StructType(Seq(
      StructField("from", StringType, nullable = false),
      StructField("to", StringType, nullable = false),
      StructField("cast", StringType, nullable = true)))
    val rows = spark.read.schema(schema).option("header", "true").csv(path)
      .collect()
    val renames = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    val casts = rows.filter(!_.isNullAt(2)).map { r =>
      r.getString(1) ->
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(r.getString(2))
    }.toMap
    ColumnMapping(renames = renames, casts = casts)
  }
}

/** Schema alignment: project a frame onto a target schema — matching
  * columns cast into place, missing columns null-filled, extras dropped.
  * Spark-first analog of the reference's dynamic column intersection
  * before insert (etl_ecollision_fusion_table_collisions.py:117-121),
  * done as one `select` so it stays inside the scan's pruned projection.
  */
object SchemaAlign {
  def project(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    val cols: Seq[Column] = target.fields.toIndexedSeq.map { f =>
      present.get(f.name.toLowerCase) match {
        case Some(src) => col(src).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols: _*)
  }

  /** Project through a column mapping: apply the declarative
    * rename/cast/derive step, THEN align onto the target — the full
    * "source table → mapped names → target schema" hop the reference
    * performs between its Oracle and Analytics lineages. Catalyst
    * collapses both selects into one projection.
    */
  def project(df: DataFrame, target: StructType,
      mapping: ColumnMapping): DataFrame =
    project(mapping(df), target)

  /** Union two lineages by name, null-filling the non-shared columns —
    * how fusion tables absorb both sources (create_empty_tables_for_
    * ecollision_fusion.py:31-44).
    */
  def unionLineages(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** Schema-evolved read: one logical table whose parquet files were
    * written under successive schema versions (columns added over
    * time). `mergeSchema` unions the footers at planning time — old
    * files surface the new columns as null, and column pruning still
    * reaches every file (a projection of the v1 columns never reads a
    * v2-only column). This is how a 100 TB table absorbs additive
    * schema change without a rewrite; renames/retypes go through an
    * explicit `SchemaAlign.project` onto the current target instead.
    */
  def loadEvolved(spark: SparkSession, paths: Seq[String],
      target: Option[StructType] = None): DataFrame = {
    // Spark's inference, not Tables.read: mergeSchema unions every footer.
    val merged = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    target.fold(merged)(SchemaAlign.project(merged, _))
  }

  /** `src_catalog_columns`: catalog introspection as a query — the
    * reference reads information_schema.columns to drive its schema
    * mapping (helper_db_operation.py get_table_columns,
    * on_demand_db_query.sql). Here the catalog IS the parquet footer:
    * the schemas come from one footer per table read on the driver
    * ([[Tables.read]]: no Spark job, no data scan), emitted with engine-neutral type names so any SQL engine's
    * information_schema agrees.
    */
  def catalogColumns(spark: SparkSession, dir: String,
      tables: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    def canonical(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case StringType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case BinaryType => "BLOB"
      case _: TimestampType | _: TimestampNTZType => "TIMESTAMP"
      case ArrayType(e, _) => canonical(e) + "[]"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case other => other.sql
    }
    val rows = tables.sorted.flatMap { t =>
      Tables.load(spark, dir, t).schema.fields.sortBy(_.name).map { f =>
        (t, f.name, canonical(f.dataType))
      }
    }
    import spark.implicits._
    rows.toDF("table_name", "column_name", "data_type")
      .orderBy(col("table_name"), col("column_name"))
  }

  /** `src_file_stats`: per-table row counts and column counts read from
    * parquet FOOTERS ONLY — the planner's view of a table, no data
    * pages touched. The oracle recomputes num_rows by actually counting
    * rows, so the check is exactly the integrity question a catalog
    * cares about: do the footers tell the truth? A table is a file or a
    * directory of them ([[Tables.dataFiles]]): num_rows sums every data
    * file's footer, n_columns is the first file's. Footer reads loop
    * on the driver over a handful of tables; a lake-wide stats sweep
    * maps the same read over the file list in executors.
    */
  def fileStats(spark: SparkSession, dir: String,
      tables: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = tables.sorted.map { t =>
      val footers = footersOf(spark, s"$dir/$t.parquet")
      (t, footers.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum,
        footers.head.getFileMetaData.getSchema.getFieldCount.toLong)
    }
    import spark.implicits._
    rows.toDF("table_name", "num_rows", "n_columns")
      .orderBy(col("table_name"))
  }

  /** Row-group statistics (`src_rowgroup_stats`, *rows-only*): the
    * min/max/null-count column statistics parquet stores per ROW
    * GROUP — the metadata row-group pruning reads before touching any
    * data page (SinkSpec's writeSorted test proves the skipping; this
    * op surfaces the stats themselves, per group). Row groups number
    * across the table's data files in file-name order. Footer reads
    * loop on the driver for one table here; a lake-wide sweep maps the
    * same read over the file list in executors. Spec cross-checks the
    * stats against the actual data (footer truthfulness, the
    * src_file_stats property at row-group granularity).
    */
  def rowGroupStats(spark: SparkSession, dir: String,
      table: String = "orders", column: String = "o_orderkey"): DataFrame = {
    import scala.jdk.CollectionConverters._
    val blocks = footersOf(spark, s"$dir/$table.parquet")
      .flatMap(_.getBlocks.asScala)
    val rows = blocks.zipWithIndex.map { case (b, i) =>
      val cc = b.getColumns.asScala
        .find(_.getPath.toDotString == column)
        .getOrElse(sys.error(s"column $column not in $table footer"))
      val st = cc.getStatistics
      (i.toLong, b.getRowCount,
        st.genericGetMin.toString.toLong, st.genericGetMax.toString.toLong,
        st.getNumNulls)
    }
    import spark.implicits._
    rows.toDF("row_group", "n_rows", "min_key", "max_key", "n_nulls")
      .orderBy(col("row_group"))
  }

  private def footersOf(spark: SparkSession, path: String)
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Tables.dataFiles(spark, path)
    require(files.nonEmpty, s"no parquet data file under $path")
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getFooter finally reader.close()
    }
  }

  /** Content checksum per table (`src_table_checksum`): an
    * order-independent row-level signature — bit_xor + modular sum of a
    * 60-bit md5-derived row hash over the stable (integer/string)
    * columns — so two engines, two partition layouts, or a before/after
    * reload can be compared with ONE aggregate row per table and no
    * sort. xor catches any single-row difference; the modular sum
    * catches xor-cancelling pair swaps. This is the migration-audit
    * primitive the reference's row-count checks approximate.
    */
  def tableChecksums(spark: SparkSession, dir: String): DataFrame = {
    def sig(t: String, keyCols: Seq[String]): DataFrame = {
      val df = Tables.load(spark, dir, t)
      val h = conv(substring(md5(concat_ws("|",
        keyCols.map(col): _*).cast("binary")), 1, 15), 16, 10).cast("long")
      df.agg(count(lit(1)).as("n_rows"),
          bit_xor(h).as("xor_sig"),
          sum(h % lit(1000000007L)).as("sum_sig"))
        .select(lit(t).as("table_name"), col("n_rows"), col("xor_sig"), col("sum_sig"))
    }
    sig("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .unionByName(sig("customer", Seq("c_custkey", "c_name", "c_nationkey")))
      .unionByName(sig("part", Seq("p_partkey", "p_name")))
      .orderBy(col("table_name"))
  }
}
