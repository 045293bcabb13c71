package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Serialize engine timestamps as NAIVE (TIMESTAMP_NTZ) parquet for
    * the DuckDB compare. The engine reads naive parquet timestamps as
    * session-TZ TIMESTAMP (inferTimestampNTZ=false — the type whose
    * filters actually row-group-skip; see GraftSession), so under the
    * UTC session this cast is value-lossless and only fixes the wire
    * type: a TimestampType result would land as isAdjustedToUTC=true
    * micros, which DuckDB reads as TIMESTAMPTZ and prints with an
    * offset — hash-mismatching the naive oracle on identical values.
    * Recurses into struct/array/map so windowed outputs convert too.
    */
  private[graft] def ntzOut(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    def swap(dt: DataType): DataType = dt match {
      case TimestampType => TimestampNTZType
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = swap(f.dataType))))
      case a: ArrayType => a.copy(elementType = swap(a.elementType))
      case m: MapType =>
        m.copy(keyType = swap(m.keyType), valueType = swap(m.valueType))
      case other => other
    }
    val cols = df.schema.fields.map { f =>
      val t = swap(f.dataType)
      if (t == f.dataType) org.apache.spark.sql.functions.col(f.name)
      else org.apache.spark.sql.functions.col(f.name).cast(t).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty)
        sys.error(s"unknown queries in filter: ${unknown.mkString(", ")}")
    }
    // SPARK_GRAFT_MASTER lets the gate run under real executor JVMs
    // (e.g. local-cluster[4,8,8192]) instead of in-process local[n].
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Exact->approximate boundary guard (VERDICT r6 item 7): the DuckDB
    // oracle replays label-blocked pairs EXACTLY, while the engine's
    // cellBoundedPairs switches oversized cells to approximate RP-LSH
    // banding. At every gate corpus this must be a non-event — assert
    // it, so a grown gate corpus fails LOUDLY here instead of silently
    // hash-mismatching (or worse, silently agreeing on reduced recall).
    // Guarded: a filtered gate run pointed at a corpus dir WITHOUT an
    // embeddings table (e.g. facts-only regression dirs) must not fail
    // on this assertion's own unconditional load (r8 ADVICE low).
    if (new java.io.File(s"$sfDir/embeddings.parquet").exists()) {
      val maxCell = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .groupBy("label").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      require(maxCell <= graft.operators.Dedup.DefaultMaxCell,
        s"gate corpus has an embedding cell of $maxCell vectors > " +
          s"${graft.operators.Dedup.DefaultMaxCell}: cellBoundedPairs would " +
          "take the approximate banded path while the oracle replays exact " +
          "pairs — raise the oracle to the banded formulation or the cap")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try ntzOut(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {SF_DIR} → the gate's data dir: lets an oracle address a raw
    // parquet path (parquet_metadata() for src_rowgroup_stats) while
    // everything else keeps using the driver-registered views.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SF_DIR}", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
