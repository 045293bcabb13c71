package graft

/** CPU-steal gating for every measurement (Bench, ClusterBench, the
  * Soak scenarios). This host is a VM with intermittent hypervisor
  * steal (0.6k quiet → 10k+ noisy jiffies per ~90 s window — the
  * round-14/15 forensics), so a wall-clock number is only evidence when
  * its window's cumulative-steal delta is known.
  *
  * Unknown ≠ quiet: if /proc/stat is unreadable, `stealNow()` returns
  * -1 on both samples and the naive `s1 - s0` delta is 0 — which would
  * mark every window quiet on a host where steal was never measured.
  * `delta` maps any failed sample to -1 and `quietWindow` rejects
  * negative deltas, so an unmeasurable window is reported noisy (the
  * conservative direction: it can only demand retries, never bless a
  * contaminated number).
  *
  * `quiet` rules out steal only. A 3x swing in a soak step's wall has
  * passed the gate with every window quiet, so each window also
  * carries the JVM's GC seconds and the host's 1-minute load average
  * at its end: a row is read as evidence only when all three are low.
  */
object StealGate {

  /** Jiffies-per-second-of-window threshold; quiet runs measure <10/s,
    * contaminated ones >100/s (round-15 calibration).
    */
  val rate: Double = 25.0

  /** Sub-20 s windows aren't gated on noise blips. */
  val floorJiffies: Double = 500.0

  /** Cumulative steal jiffies (field 8 of /proc/stat's cpu line);
    * -1 when the read fails.
    */
  def stealNow(): Long = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat"))).linesIterator
      .next().trim.split("\\s+")(8).toLong
  } catch { case _: Exception => -1L }

  /** Window delta from two samples; -1 (unknown) if either failed. */
  def delta(s0: Long, s1: Long): Long =
    if (s0 < 0 || s1 < 0) -1L else s1 - s0

  /** A window is quiet when its steal delta is KNOWN and stays under
    * rate*sec (with the short-window floor). delta < 0 — including
    * the unknown -1 — is never quiet.
    */
  def quietWindow(stealDelta: Long, sec: Double): Boolean =
    stealDelta >= 0 && stealDelta <= math.max(floorJiffies, rate * sec)

  /** The JVM's cumulative GC seconds over all collectors (each bean's
    * `getCollectionTime`; a bean that reports -1 is skipped).
    */
  private def gcSecNow(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** The 1-minute load average (first field of /proc/loadavg); -1 when
    * the read fails.
    */
  private def load1Now(): Double = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
  } catch { case _: Exception => -1.0 }

  /** One timed window: `body`'s value, its seconds, the steal delta,
    * whether the steal gate calls it quiet, the GC seconds inside it
    * and the 1-minute load average at its end.
    */
  final case class Timed[A](value: A, sec: Double, steal: Long,
      quiet: Boolean, gcSec: Double, load1: Double)

  /** Time `body` as one [[Timed]] window. */
  def timedWindow[A](body: => A): Timed[A] = {
    val s0 = stealNow(); val g0 = gcSecNow(); val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    val sd = delta(s0, stealNow())
    Timed(a, sec, sd, quietWindow(sd, sec), gcSecNow() - g0, load1Now())
  }

  /** Steal-gated best-of: runs `body` at least twice and at most four
    * times, stopping once some attempt's window was quiet. The reported
    * attempt is the fastest quiet one (the fastest overall when none
    * was quiet); the result carries the last attempt's value, the
    * reported attempt's seconds, GC seconds and load, whether any
    * attempt was quiet, and the worst steal delta, so the row is
    * self-diagnosing.
    */
  def bestOf[A](body: => A): Timed[A] = {
    val runs = scala.collection.mutable.ArrayBuffer(timedWindow(body),
      timedWindow(body))
    while (runs.size < 4 && !runs.exists(_.quiet)) runs += timedWindow(body)
    val quiet = runs.filter(_.quiet)
    val best = (if (quiet.nonEmpty) quiet else runs).minBy(_.sec)
    best.copy(value = runs.last.value, quiet = quiet.nonEmpty,
      steal = runs.map(_.steal).foldLeft(0L)(math.max))
  }
}
