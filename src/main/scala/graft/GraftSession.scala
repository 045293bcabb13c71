package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Session factory: one place for the engine's Spark configuration,
  * and the one reader of `SPARK_GRAFT_MASTER` (default `local[<cpus>]`)
  * and `SPARK_GRAFT_CPUS` (default the JVM's processor count).
  *
  * Scale posture: AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions sized to the cores (`SPARK_GRAFT_CPUS`) rather
  * than the 200 default. The builder's options override the same keys
  * given to spark-submit with `--conf`; any other key passes through.
  *
  * Local disk: `file:` resolves to Hadoop's local filesystem with its
  * permission change made in-process ([[graft.sources.LocalFileSystemNoFork]],
  * [[graft.sources.LocalFsNoFork]]). Without libhadoop, Hadoop's own
  * forks one chmod process per file and per directory it creates.
  *
  * Engine code changes no session conf, and runs work beside its
  * caller through one helper only, [[branches]].
  */
object GraftSession {
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def builder(
      master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      shufflePartitions: Int = cpus
  ): SparkSession.Builder = {
    // Embedded Derby (the JDBC gates' stand-in database) writes
    // derby.log into user.dir by default — route it into the JVM
    // scratch root so harness runs leave the checkout clean. Must be
    // set before the Derby engine first boots; harmless if a caller
    // already chose a location.
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        java.nio.file.Paths.get(Scratch.dir("derby_log"))
          .resolve("derby.log").toString)
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Lookup sides (code tables, cutoff calendars, the valid-id set)
      // are tiny and never worth a shuffle; 32 MiB instead of Spark's
      // 10 MiB also broadcasts mid-size dimension tables that would
      // otherwise sort-merge. This is the engine's one broadcast
      // threshold: the planner's size check and AQE's run-time
      // conversion (its adaptive key defaults to this one) both read
      // it, and -1 turns every size-based broadcast off.
      .config("spark.sql.autoBroadcastJoinThreshold", (32L << 20).toString)
      // Plan-time size estimates for file scans are COMPRESSED bytes;
      // an UnsafeHashedRelation of the same rows is ~4x larger, so a
      // borderline fact scan (est. just under the broadcast threshold)
      // gets broadcast and real executors die deserializing
      // a ~1 GB relation — caught by the round-7 local-cluster 10x
      // soak (q_star_join_agg / q_salted_join_agg OOMed in
      // UnsafeHashedRelation.readExternal; local[n] masks it because
      // the driver-built relation is reference-shared). Scaling the
      // estimate makes "fits the broadcast threshold" mean in-memory
      // bytes. AQE still upgrades to broadcast at runtime from ACTUAL
      // shuffle sizes, so genuinely small sides keep the fast path.
      .config("spark.sql.sources.fileCompressionFactor", "4.0")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader refuses; read as epoch-nanos long, Tables.load converts
      // to timestamp_ntz (microsecond floor, same as DuckDB's reader).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark still WRITES TimestampType as INT96 by default (Impala-era
      // compatibility), and INT96 has no usable min/max stats — a filter
      // on an engine-written timestamp column could never skip a row
      // group (measured in the round-10 layout soak; the same filter on
      // a MICROS column skips everything). Write modern micros.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Read naive parquet timestamps (isAdjustedToUTC=false) as
      // session-TZ TIMESTAMP instead of TIMESTAMP_NTZ. Under the UTC
      // session every value is identical, but the pushdown behavior is
      // not: ParquetFilters drops NTZ literals (LocalDateTime), so an
      // NTZ filter is advertised in PushedFilters yet skips NOTHING,
      // while the LTZ twin row-group-skips 80x on a date-clustered
      // layout (docs/SCALING.md round 10, re-measured round 12). This
      // makes every headline l_shipdate/o_orderdate filter actually
      // reach the reader. Engine OUTPUT parquet converts back to NTZ at
      // the Verify boundary, so cross-engine naive-timestamp semantics
      // are unchanged.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Managed (bucketed) tables land outside the repo checkout.
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      .config("spark.ui.enabled", "false")
      // Keep generated classes across queries. The iterative loops
      // (quantile narrowing passes, BPE training) plan the same shapes
      // on every call, yet under Spark's default 100-entry cache the
      // benchmark's iterative_fit recompiled 54-94 generated classes in
      // every iteration (48-60 with BPE trained on the driver), and
      // none at 1024. The conf is static: it takes effect only when
      // this builder creates the JVM's first session; spark-submit
      // users pass it with --conf.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      // Local-disk writes without a process start per file. With no
      // libhadoop, Hadoop's local filesystem forks /bin/chmod for every
      // file it creates (data file and .crc) and every directory, and
      // `readlink` on every FileContext rename: ten forks per table
      // write, on the critical path. These are Hadoop's local
      // filesystems with that chmod made in-process (sources/LocalFs),
      // for the FileSystem API (DataFrame writes, Sink's swaps) and the
      // FileContext API (streaming checkpoints and metadata logs).
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.LocalFileSystemNoFork].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.LocalFsNoFork].getName)
      .withExtensions(new graft.plans.GraftExtensions)
  }

  def create(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Work that runs beside its caller: `body` forks labelled branches
    * through the [[Branches]] it is handed, and the call returns only
    * once `body` and every branch it forked have ended. This is the one
    * place engine code starts work on another thread.
    *
    *  - Each branch runs on a fresh thread, which starts from a clone
    *    of the caller's local properties: its jobs carry the caller's
    *    job group and job tags, plus the call's own tag, with the
    *    branch's label as their description. The thread ends with the
    *    branch, and these properties with it. `body` carries the call's
    *    tag too, for the span of the call.
    *  - The first failure, in a branch or in `body`, cancels the call's
    *    jobs (again every 100 ms until the call ends, so a job a
    *    survivor submits later is cancelled too), waits for every
    *    branch to end, and is rethrown.
    *  - `fork` returns the branch's await: it blocks until the branch
    *    ends, then returns its value or rethrows its failure.
    */
  private[graft] def branches[A](spark: SparkSession)(body: Branches => A): A =
    new Branches(spark.sparkContext).run(body)

  private[graft] final class Branches private[GraftSession] (sc: SparkContext) {
    private val tag = s"graft-branches-${java.util.UUID.randomUUID}"
    private val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    private var failure: Option[Throwable] = None // guarded by this
    @volatile private var ended = false

    private def start(name: String)(run: => Unit): Thread = {
      val t = new Thread(() => run, name)
      t.setDaemon(true)
      t.start()
      t
    }

    def fork[T](label: String)(work: => T): () => T = {
      var out: Either[Throwable, T] = null
      val t = start(s"graft-branch: $label") {
        out = try { sc.addJobTag(tag); sc.setJobDescription(label); Right(work) }
          catch { case e: Throwable => fail(e); Left(e) }
      }
      threads.add(t)
      () => { t.join(); out.toTry.get }
    }

    private def fail(e: Throwable): Unit = synchronized {
      if (failure.isEmpty) {
        failure = Some(e)
        start("graft-branches: cancel") {
          while (!ended) {
            sc.cancelJobsWithTag(tag, s"a sibling failed: $e")
            Thread.sleep(100)
          }
        }
      }
    }

    private[GraftSession] def run[A](body: Branches => A): A = {
      sc.addJobTag(tag)
      val out = try Some(body(this))
        catch { case e: Throwable => fail(e); None }
        finally sc.removeJobTag(tag)
      threads.forEach(_.join())
      ended = true
      synchronized(failure).foreach(e => throw e)
      out.get
    }
  }
}
