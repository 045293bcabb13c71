package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Fusion, Pipeline, Quantiles}
import graft.sources.{Ingest, Sink, Tables, TypePolicy}

/** What one iteration produced: row count and an order-independent
  * hash over every output, pinned across iterations.
  */
final case class Pin(rows: Long, hash: Long)

/** One iteration's view of the session: the input directory, the
  * output root, and the span wrappers that attribute each call to the
  * graft layer it enters.
  */
final class Ctx(val spark: SparkSession, val in: String, val out: String,
    val tracer: Tracer, val bpeK: Int) {
  val sinkPaths = mutable.ArrayBuffer.empty[String]

  def call[A](layer: String, name: String)(body: => A): A = tracer.span(layer, name)(body)

  /** Catalyst plus graft's extension rules and strategies on the
    * returned frame; forced only in traced iterations (an untraced
    * action plans as part of its own execution).
    */
  def plan(df: DataFrame, name: String): DataFrame = {
    if (tracer.enabled) tracer.span("plans", name)(df.queryExecution.executedPlan)
    df
  }

  def sink(df: DataFrame, path: String, name: String): Unit = {
    tracer.span("sink", name)(Sink.overwrite(df, path))
    sinkPaths += path
  }
}

trait Workload {
  def name: String
  /** Oracle queries (SparkEntry.oracleSql names) the check runs. */
  def oracles: Seq[String]
  def run(ctx: Ctx): Pin
  /** Persist the first iteration's outputs under `dir` for the oracle
    * check, outside any timed region.
    */
  def keepForCheck(ctx: Ctx, dir: String): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(FusionNightly, CorpusCurate, IterativeFit)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload $n"))

  /** Row count plus a sum and xor of per-row hashes: both are
    * order-independent, and the sum also sees duplicated rows.
    */
  def pinOf(df: DataFrame): Pin = {
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
    Pin(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1) * 31L + r.getLong(2))
  }

  def pinOf(rows: Seq[Row]): Pin =
    Pin(rows.size.toLong, scala.util.hashing.MurmurHash3.unorderedHash(rows.map(_.toString)).toLong)

  def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val files = java.nio.file.Files.walk(src)
    try files.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally files.close()
  }
}

/** The reference's nightly ETL: land the schema-mapped source tables
  * (canonical types plus the lineage column), run the fusion ETL over
  * the landed copies, overwrite the fused table and read it back.
  */
object FusionNightly extends Workload {
  val name = "fusion_nightly"
  private val tables = Seq("customer", "orders", "events", "lineitem")
  val oracles = Seq("q_fusion_etl")

  def run(ctx: Ctx): Pin = {
    val landed = s"${ctx.out}/landed"
    for (t <- tables) {
      val df = ctx.call("sources", s"land $t") {
        Ingest.withSource(TypePolicy.canonical(Tables.load(ctx.spark, ctx.in, t)),
          "eCollision Oracle")
      }
      ctx.sink(ctx.plan(df, s"plan land $t"), s"$landed/$t.parquet", s"Sink.overwrite $t")
    }
    val fused = ctx.call("operators", "Fusion.fusionEtl")(Fusion.fusionEtl(ctx.spark, landed))
    ctx.sink(ctx.plan(fused, "plan fused"), s"${ctx.out}/fused", "Sink.overwrite fused")
    ctx.call("check", "read back fused")(Workloads.pinOf(ctx.spark.read.parquet(s"${ctx.out}/fused")))
  }

  def keepForCheck(ctx: Ctx, dir: String): Unit =
    Workloads.copyDir(s"${ctx.out}/fused", s"$dir/q_fusion_etl")
}

/** LLM training-corpus curation: the seven-stage pipeline (quality
  * filter, exact and near dedup, substring scrub, decontamination,
  * mixture sampling, batch packing), shipped with an overwrite and read
  * back.
  */
object CorpusCurate extends Workload {
  val name = "corpus_curate"
  val oracles = Seq("pipe_llm_corpus")

  def run(ctx: Ctx): Pin = {
    val corpus = ctx.call("operators", "Pipeline.llmCorpus")(Pipeline.llmCorpus(ctx.spark, ctx.in))
    ctx.sink(ctx.plan(corpus, "plan corpus"), s"${ctx.out}/corpus", "Sink.overwrite corpus")
    ctx.call("check", "read back corpus")(Workloads.pinOf(ctx.spark.read.parquet(s"${ctx.out}/corpus")))
  }

  def keepForCheck(ctx: Ctx, dir: String): Unit =
    Workloads.copyDir(s"${ctx.out}/corpus", s"$dir/pipe_llm_corpus")
}

/** Driver-sequenced loops with no writes: exact quantile narrowing and
  * BPE merge training.
  */
object IterativeFit extends Workload {
  val name = "iterative_fit"
  val oracles = Seq("q_quantiles_multi", "q_weighted_median_narrow", "text_bpe_merges")

  // One caller of each narrowing loop: the unweighted one (p50, p90,
  // p99 in one set of passes) and the weighted one.
  private val quantiles: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_quantiles_multi" -> Quantiles.quantilesNarrowMulti,
    "q_weighted_median_narrow" -> Quantiles.weightedMedianNarrow)

  private var last = Seq.empty[(String, DataFrame, Array[Row])]

  def run(ctx: Ctx): Pin = {
    val q = quantiles.map { case (n, f) =>
      val df = ctx.plan(ctx.call("operators", s"Quantiles $n")(f(ctx.spark, ctx.in)), s"plan $n")
      (n, df, ctx.call("check", s"collect $n")(df.collect()))
    }
    val bpe = ctx.plan(ctx.call("functions", "TextFunctions.bpeMerges")(
      TextFunctions.bpeMerges(ctx.spark, ctx.in, ctx.bpeK)), "plan bpe")
    last = q :+ (("text_bpe_merges", bpe, ctx.call("check", "collect bpe")(bpe.collect())))
    Workloads.pinOf(last.flatMap { case (n, _, rows) => rows.map(r => Row.fromSeq(n +: r.toSeq)) })
  }

  /** One JSON object per output: its columns and rows. */
  def keepForCheck(ctx: Ctx, dir: String): Unit = {
    def json(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case x => x.toString
    }
    val lines = last.map { case (n, df, rows) =>
      s"""{"name":"$n","columns":[${df.columns.map(json).mkString(",")}],""" +
        s""""rows":[${rows.map(r => r.toSeq.map(json).mkString("[", ",", "]")).mkString(",")}]}"""
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "iterative_fit.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
  }
}
