package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One timed operation's outcome. */
final case class OpSample(id: Long, kind: String, ms: Double, ok: Boolean)

/** The closed loop every workload runs: one client thread issues the
  * next operation only after the previous one returned. An operation is
  * timed from the call into the engine until its result is in the
  * client's hands; the correctness check that follows is not timed.
  */
final class Harness(
    val spark: SparkSession,
    val args: Args,
    val tracer: Tracer,
    val telemetry: Option[SparkTelemetry]) {

  val samples = mutable.ArrayBuffer.empty[OpSample]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Numbers a workload reports beside its latencies (recall, counts). */
  val extras = mutable.LinkedHashMap.empty[String, Double]
  private var timedNs = 0L
  /** Operations, operation seconds and CPU nanoseconds of each cycle. */
  private val cycleStats = mutable.ArrayBuffer.empty[(Int, Double, Long)]
  private var cpuNs = 0L
  private var gcMs = 0L
  private var opFailed = false

  /** Root directory of everything this workload writes. */
  val dataDir: String = new File(args.workDir, "data").getAbsolutePath

  def timedSeconds: Double = timedNs / 1e9

  /** Records a wrong answer against the current operation (or against
    * set-up when no operation is open). Never throws: the run goes on
    * and reports every failure at the end.
    */
  def fail(what: String): Unit = {
    opFailed = true
    if (failures.size < 50) failures += what
    System.err.println(s"[perfbench] FAIL: $what")
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  /** Runs set-up `reps` times and returns the median seconds. */
  def setupReps(reps: Int)(body: Int => Unit): Double =
    Stats.median((0 until reps).map { r =>
      val t0 = System.nanoTime()
      body(r)
      (System.nanoTime() - t0) / 1e9
    })

  /** Times one operation. `body` returns the value to check; an
    * exception counts as a failed operation and yields None.
    */
  def timed[T](kind: String)(body: => T): Option[T] = {
    val id = samples.size.toLong
    tracer.setOp(id)
    telemetry.foreach(_.inOp = true)
    opFailed = false
    val cpu0 = Probe.processCpuNs
    val gc0 = Probe.gcMs
    val t0 = System.nanoTime()
    val out =
      try Some(tracer.span(s"op.$kind")(body))
      catch {
        case NonFatal(e) =>
          fail(s"$kind raised ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    val ns = System.nanoTime() - t0
    timedNs += ns
    cpuNs += Probe.processCpuNs - cpu0
    gcMs += Probe.gcMs - gc0
    if (tracer.enabled) PerfbenchBus.drain(spark.sparkContext)
    telemetry.foreach(_.inOp = false)
    tracer.setOp(-1)
    samples += OpSample(id, kind, ns / 1e6, ok = true)
    out
  }

  /** Marks the last operation failed if its check found a wrong answer. */
  def settle(): Unit =
    if (opFailed && samples.nonEmpty) {
      val last = samples.last
      samples(samples.size - 1) = last.copy(ok = false)
    }

  /** Runs cycles of the mix until `--seconds` of operation time are
    * measured, always finishing the cycle it is in: every run then holds
    * the same mix of operation kinds, whatever the seed, and only the
    * order and the arguments vary. A cycle is `deck` shuffled, then
    * `tail` in its given order. A wall-clock cap of four
    * times the budget bounds a run whose checks turn out slow. Then
    * records CPU, GC, live heap and the bytes under `dataDirs` and
    * Spark's local directory.
    */
  def loop(dataDirs: Seq[File], deck: Vector[String], tail: Vector[String],
      rng: java.util.SplittableRandom)(step: String => Unit): Unit = {
    val heapAfterSetup = Probe.liveHeapMb()
    if (tracer.enabled) PerfbenchBus.drain(spark.sparkContext)
    val budgetNs = (args.seconds * 1e9).toLong
    val wallCap = System.nanoTime() + 4 * budgetNs
    while (timedNs < budgetNs && System.nanoTime() < wallCap) {
      val (n0, t0, c0) = (samples.size, timedNs, cpuNs)
      (Harness.shuffle(rng, deck) ++ tail).foreach { kind =>
        step(kind)
        settle()
      }
      cycleStats += ((samples.size - n0, (timedNs - t0) / 1e9, cpuNs - c0))
    }
    // medians over cycles: a host stall within one cycle moves neither
    extras("cycles") = cycleStats.size.toDouble
    extras("ops_per_s") = Stats.median(cycleStats.map { case (n, s, _) => n / s }.toSeq)
    extras("cpu_ms_per_op") = Stats.median(cycleStats.map { case (n, _, c) => c / 1e6 / n }.toSeq)
    extras("cpu_ms") = cpuNs / 1e6
    extras("gc_ms") = gcMs.toDouble
    val heapEnd = Probe.liveHeapMb()
    extras("heap_after_setup_mb") = heapAfterSetup
    extras("heap_end_mb") = heapEnd
    extras("heap_peak_mb") = math.max(heapAfterSetup, heapEnd)
    // Spark's local directory holds what the engine spills, caches to
    // disk and shuffles, on every workload
    val sparkLocal = new File(args.workDir, "spark-local")
    val diskMb = (dataDirs :+ sparkLocal).map(d => d.getName -> Probe.diskBytes(d) / 1048576.0)
    diskMb.foreach { case (n, mb) => extras(s"disk_mb.$n") = mb }
    extras("disk_mb") = diskMb.map(_._2).sum
  }

  /** An untraced harness for warm-up calls: checked, never timed into
    * this run's samples. Its failures are this run's failures.
    */
  def warmup(body: Harness => Unit): Double = {
    val w = new Harness(spark, args, new Tracer(false, spark.sparkContext), None)
    val t0 = System.nanoTime()
    body(w)
    w.failures.foreach(f => fail(s"warm-up: $f"))
    (System.nanoTime() - t0) / 1e9
  }
}

object Harness {
  def shuffle[T](rng: java.util.SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toVector
  }
}

/** Process- and host-level probes: CPU, GC, heap, load, steal, disk. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean

  def processCpuNs: Long = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => 0L
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def loadAvg: Double = os.getSystemLoadAverage

  /** Host CPU ticks from the first line of `/proc/stat`: (steal, idle
    * plus iowait, total), or None where the file does not exist.
    */
  def hostTicks(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        finally src.close()
      Some((f(7), f(3) + f(4), f.sum))
    } catch { case NonFatal(_) => None }

  /** Heap in use after a full collection, in MB. The second collection
    * follows a pause in which Spark's context cleaner drops the blocks
    * of broadcasts and shuffles the first one found unreachable. Called
    * only outside timed regions.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / (1024.0 * 1024.0)
  }

  /** Bytes of regular files under `dir`, as the file system reports
    * them (written pages may still sit in the page cache).
    */
  def diskBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.iterator.map(diskBytes).sum).getOrElse(0L)

  /** Every regular file under `dir` with its length. */
  def listFiles(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else if (dir.isFile) Map(dir.getPath -> dir.length())
    else Option(dir.listFiles()).map(_.iterator.flatMap(f => listFiles(f)).toMap)
      .getOrElse(Map.empty)
}
