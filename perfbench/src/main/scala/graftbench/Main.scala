package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.graftbench.SparkInternals

/** The benchmark JVM: set up graft several times, run one workload
  * for a fixed time, and write every measurement to a result file.
  *
  *   graftbench.Main --workload W --in DIR --work DIR --seconds S
  *     --trace 0|1 --cores N --bpe-k K --result FILE
  *
  * The result file holds the setup and iteration samples, the
  * per-layer figures of traced iterations, and each iteration's pin;
  * perfbench/run.py turns it into the benchmark's output line.
  */
object Main {
  final case class Iter(wall: Double, cpu: Double, jit: Double, compiles: Long, writeBytes: Long,
      heapMb: Double, offHeapMb: Double, steal: Long, load: Double, ok: Boolean,
      traced: Boolean, error: String)

  /** Setups per run: one in a cold JVM, one in a warm one. */
  private val Setups = 2
  /** Untimed iterations between the setups and the timed ones: the JIT
    * is still compiling graft's and Spark's hot paths after the setups,
    * and timings keep falling.
    */
  private val Warmups = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(a("workload"))
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val out = s"$work/out"
    val tracer = new Tracer(cores)
    def newCtx(spark: SparkSession) = new Ctx(spark, a("in"), out, tracer, a("bpe-k").toInt)

    def build(): SparkSession = {
      val spark = graft.GraftSession.builder(s"local[$cores]", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // A reused session (spark-shell, an earlier builder) silently drops
      // withExtensions: without them the run would measure a program
      // missing graft's planner rules and strategies.
      spark.sql("SELECT * FROM graft_docgen(1)").queryExecution.analyzed
      if (trace) spark.sparkContext.addSparkListener(tracer)
      spark
    }

    // Fresh state before every iteration: no cache, scratch or output
    // survives from the previous one.
    def wipeFiles(): Unit = {
      graft.Scratch.wipeAll()
      deleteTree(Paths.get(out))
    }
    def isolate(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      wipeFiles()
      System.gc()
    }

    // Setups: session build plus the first, untimed iteration. The
    // first one's outputs are kept for the oracle check and pin every
    // later iteration.
    val initS = mutable.ArrayBuffer.empty[Double]
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var reference: Pin = null
    for (k <- 1 to Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      wipeFiles()
      val t0 = System.nanoTime()
      spark = build()
      val t1 = System.nanoTime()
      val ctx = newCtx(spark)
      val pin = wl.run(ctx)
      val t2 = System.nanoTime()
      initS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
      if (reference == null) {
        reference = pin
        wl.keepForCheck(ctx, s"$work/check")
        writeOracles(wl, s"$work/check/oracle.json")
      } else require(pin == reference, s"setup $k output $pin differs from $reference")
    }

    for (_ <- 1 to Warmups) {
      isolate(spark)
      val pin = wl.run(newCtx(spark))
      require(pin == reference, s"warm-up output $pin differs from $reference")
    }

    val iters = mutable.ArrayBuffer.empty[Iter]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traceLines = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    // At least three iterations (four traced); traced runs alternate
    // untraced/traced so the tracing overhead is measured in-run.
    while (iters.size < (if (trace) 4 else 3) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && iters.size % 2 == 1
      isolate(spark)
      tracer.reset()
      tracer.enabled = traced
      val ctx = newCtx(spark)
      resetPeakMemory()
      val (steal0, w0) = (graft.StealGate.stealNow(), writtenBytes())
      val (cpu0, jit0) = (processCpuSeconds(), jitCpuSeconds())
      val compiles0 = codegenCompiles()
      val s0 = System.nanoTime()
      val result = scala.util.Try(tracer.span("iteration", "iteration")(wl.run(ctx)))
      val wall = (System.nanoTime() - s0) / 1e9
      val (cpu1, jit1) = (processCpuSeconds(), jitCpuSeconds())
      val compiles1 = codegenCompiles()
      val (w1, steal1) = (writtenBytes(), graft.StealGate.stealNow())
      val (heapMb, offHeapMb) = peakMemoryMb()
      val (jit, compiles) = (jit1 - jit0, compiles1 - compiles0)
      tracer.enabled = false
      val error = result match {
        case scala.util.Success(p) if p == reference => ""
        case scala.util.Success(p) => s"output $p differs from $reference"
        case scala.util.Failure(e) => e.toString
      }
      iters += Iter(wall, cpu1 - cpu0 - jit, jit, compiles, w1 - w0, heapMb, offHeapMb,
        graft.StealGate.delta(steal0, steal1), loadAvg(), error.isEmpty, traced, error)
      if (traced && error.isEmpty) {
        SparkInternals.drainListenerBus(spark)
        val files = ctx.sinkPaths.toSeq.flatMap(p => listFiles(Paths.get(p)))
          .filter(f => f.getFileName.toString.startsWith("part-"))
        layer += tracer.iterationMetrics(files.map(Files.size).sum, files.size.toLong) ++ Map(
          "plans.codegen_compiles" -> compiles.toDouble, "jvm.jit_cpu_s" -> jit)
        traceLines.clear()
        traceLines ++= tracer.records
      }
    }
    spark.stop()

    val sb = new StringBuilder
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    sb ++= s"""{"workload":"${wl.name}","setup_s":${setupS.map(num).mkString("[", ",", "]")},"""
    sb ++= s""""init_s":${initS.map(num).mkString("[", ",", "]")},"""
    sb ++= s""""pin":{"rows":${reference.rows},"hash":${reference.hash}},"iterations":["""
    sb ++= iters.map(i =>
      s"""{"wall_s":${num(i.wall)},"cpu_s":${num(i.cpu)},"jit_s":${num(i.jit)},"compiles":${i.compiles},""" +
        s""""write_bytes":${i.writeBytes},"heap_mb":${num(i.heapMb)},"off_heap_mb":${num(i.offHeapMb)},""" +
        s""""steal":${i.steal},"loadavg":${num(i.load)},"ok":${i.ok},"traced":${i.traced},""" +
        s""""error":"${i.error.replace("\\", "/").replace("\"", "'").replace("\n", " ")}"}""")
      .mkString(",")
    sb ++= "],\"layers\":["
    sb ++= layer.map(m => m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}")).mkString(",")
    sb ++= "]}"
    Files.write(Paths.get(a("result")), sb.toString.getBytes("UTF-8"))
    if (trace)
      Files.write(Paths.get(s"$work/trace-${wl.name}.jsonl"),
        traceLines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** The workload's oracle SQL, as graft's own gate holds it. */
  private def writeOracles(wl: Workload, path: String): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val sql = graft.SparkEntry.oracleSql
    Files.write(Paths.get(path), wl.oracles.map(n => s"${str(n)}:${str(sql(n))}")
      .mkString("{", ",\n", "}").getBytes("UTF-8"))
  }

  /** Process CPU seconds: driver, executors, GC and JIT. */
  private def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Generated classes Spark has compiled (Janino) so far. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** CPU seconds the JIT compiler threads have used (/proc/self/task;
    * utime and stime in USER_HZ = 100 ticks per second). cpu_s leaves
    * them out: their time varies by a third between iterations of one
    * run. It is reported on its own instead (`jit_s`, jvm.jit_cpu_s).
    */
  private def jitCpuSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.map { t =>
      scala.util.Try {
        val stat = new String(Files.readAllBytes(t.resolve("stat")), "UTF-8")
        val close = stat.lastIndexOf(')')
        if (!stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) 0.0
        else {
          val f = stat.substring(close + 2).split(" ")
          (f(11).toLong + f(12).toLong) / 100.0
        }
      }.getOrElse(0.0)
    }.sum
    finally tasks.close()
  }

  /** Bytes this process has passed to write(2) so far: sink files,
    * shuffle files and spills alike.
    */
  private def writtenBytes(): Long = procField("/proc/self/io", "wchar").toLong

  private val heapPools = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  }

  /** Restart the VmHWM high-water mark at the current RSS and every heap
    * pool's peak at its current use, so each iteration reports its own
    * peaks rather than the cold setup's.
    */
  private def resetPeakMemory(): Unit = {
    Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes("UTF-8"))
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Peak memory in use since the last reset, in MB: the heap pools'
    * summed peak use, and the peak RSS (VmHWM) outside the heap. The
    * heap is committed and pre-touched in full, so VmHWM less the
    * committed heap is the resident memory outside it.
    */
  private def peakMemoryMb(): (Double, Double) = {
    val heap = heapPools.map(_.getPeakUsage.getUsed).sum
    val committed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    (heap / 1048576.0, procStatusKb("VmHWM") / 1024.0 - committed / 1048576.0)
  }

  private def procStatusKb(key: String): Double = procField("/proc/self/status", key).toDouble

  /** First value of the `key:` line of a /proc file. */
  private def procField(file: String, key: String): String = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(file)).asScala
      .collectFirst { case l if l.startsWith(key + ":") => l.split("\\s+")(1) }
      .getOrElse(sys.error(s"no $key in $file"))
  }

  private def loadAvg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble).getOrElse(Double.NaN)

  private def listFiles(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
      finally s.close()
    }
}
