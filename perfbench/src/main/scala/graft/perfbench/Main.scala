package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workDir: String,
    cores: Int,
    commit: String,
    sourceDigest: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      workDir = need("work-dir"),
      cores = kv.get("cores").map(_.toInt)
        .getOrElse(math.min(4, Runtime.getRuntime.availableProcessors())),
      commit = kv.getOrElse("commit", "unknown"),
      sourceDigest = kv.getOrElse("source-digest", "unknown"))
  }
}

/** A workload: set-up (timed by the workload, as the median of several
  * repetitions) followed by the closed loop.
  */
trait Workload {
  /** Runs set-up and the measured loop; returns set-up seconds. */
  def run(h: Harness): Double
}

/** Entry point of one benchmark run; see perfbench/README.md. Prints a
  * readable report, then the result as the last stdout line, and writes
  * the full record (environment, spans, per-class samples) to
  * `<work-dir>/result.json`. Exits 1 on any wrong answer.
  */
object Main {

  val Workloads: Map[String, Workload] = Map(
    "repl_filter" -> ReplFilter,
    "snapshot_ops" -> SnapshotOps)

  def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      // everything the run writes stays under its work directory
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(workDir, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workload = Workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; one of ${Workloads.keys.mkString(", ")}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Probe.loadAvg
    val ticksStart = Probe.hostTicks()
    val spark = session(args.cores, args.workDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val telemetry = if (args.trace) Some(SparkTelemetry.register(spark)) else None
    val tracer = new Tracer(args.trace, spark.sparkContext)
    val h = new Harness(spark, args, tracer, telemetry)

    val setupDataS = workload.run(h)
    val report = new Report(h, sessionS + setupDataS, loadStart, ticksStart)
    spark.stop()
    report.write(new File(args.workDir, "result.json"))
    report.print()
    System.out.flush()
    System.exit(if (report.correct) 0 else 1)
  }
}

/** Assembles every metric from the harness, tracer and listeners. */
final class Report(h: Harness, setupS: Double, loadStart: Double,
    ticksStart: Option[(Long, Long, Long)]) {
  private val args = h.args
  private val ops = h.samples.size
  private val lat = h.samples.map(_.ms).toSeq
  private val failed = h.samples.count(!_.ok)
  private val loadEnd = Probe.loadAvg
  /** Shares of the host's CPU time over the run: stolen by the
    * hypervisor, and busy (any process, this one included).
    */
  private val (stealFrac, hostBusyFrac) = (ticksStart, Probe.hostTicks()) match {
    case (Some((s0, i0, t0)), Some((s1, i1, t1))) if t1 > t0 =>
      ((s1 - s0).toDouble / (t1 - t0), 1 - (i1 - i0).toDouble / (t1 - t0))
    case _ => (-1.0, -1.0)
  }

  /** End-to-end metrics (untraced runs), name -> (value, unit). Every
    * workload reports all of them; latency percentiles, which not every
    * workload can support with enough samples, are in the artifact.
    */
  val endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("ops_per_s", h.extras("ops_per_s"), "1/s"),
    ("ok_frac", (ops - failed).toDouble / math.max(1, ops), "fraction"),
    ("cpu_ms_per_op", h.extras("cpu_ms_per_op"), "ms"),
    ("heap_peak_mb", h.extras("heap_peak_mb"), "MB"),
    ("disk_mb", h.extras("disk_mb"), "MB"))

  /** Every check passed and at least one operation ran. */
  val correct: Boolean = h.failures.isEmpty && ops > 0

  /** Per-layer metrics (traced runs). Layers a workload never calls
    * read 0: that is the prediction for its control workloads.
    */
  lazy val perLayer: Seq[(String, Double, String)] = {
    val t = h.tracer
    val self = t.selfNs
    val byName = t.spans.groupBy(_.name)
    def calls(span: String) = byName.get(span).map(_.size).getOrElse(0)
    def meanSelf(span: String, scale: Double): Double =
      byName.get(span).map(ss => ss.map(s => self(s.id)).sum / scale / ss.size)
        .getOrElse(0.0)
    def ms(span: String) = meanSelf(span, 1e6)
    def sec(span: String) = meanSelf(span, 1e9)
    def counter(name: String) = t.counters.getOrElse(name, 0.0)
    def perCall(name: String, spans: Seq[String]) = {
      val n = spans.map(calls).sum
      if (n == 0) 0.0 else counter(name) / n
    }
    val tel = h.telemetry
    def telPerOp(f: SparkTelemetry => Double) =
      tel.map(x => f(x) / math.max(1, ops)).getOrElse(0.0)
    def jobsIn(spans: Seq[String]) =
      tel.map(x => spans.map(s => x.jobsBySpan.getOrElse(s, 0L)).sum.toDouble).getOrElse(0.0)
    def shuffleIn(spans: Seq[String]) =
      tel.map(x => spans.map(s => x.shuffleBySpan.getOrElse(s, 0L)).sum.toDouble).getOrElse(0.0)
    def per(total: Double, spans: Seq[String]) = {
      val n = spans.map(calls).sum
      if (n == 0) 0.0 else total / n
    }
    val writes = SnapshotOps.WriteSpans
    val refreshes = Seq("views.refresh", "views.join_refresh", "views.stream_refresh")
    Seq(
      ("core.parse_ms", ms("core.parse"), "ms"),
      ("core.execute_ms", ms("core.execute"), "ms"),
      ("catalyst.analysis_ms", telPerOp(_.phaseMs.getOrElse("analysis", 0.0)), "ms"),
      ("catalyst.optimization_ms", telPerOp(_.phaseMs.getOrElse("optimization", 0.0)), "ms"),
      ("catalyst.planning_ms", telPerOp(_.phaseMs.getOrElse("planning", 0.0)), "ms"),
      ("repl.render_ms", ms("repl.render"), "ms"),
      ("repl.rows_out", perCall("repl.rows_out", Seq("repl.render")), "count"),
      ("sources.csv_load_s", sec("sources.csv_load"), "s"),
      ("snapshots.commit_ms", ms("snapshots.commit"), "ms"),
      ("snapshots.merge_ms", ms("snapshots.merge"), "ms"),
      ("snapshots.cas_ms", ms("snapshots.cas"), "ms"),
      ("snapshots.delete_ms", ms("snapshots.delete"), "ms"),
      ("snapshots.compact_ms", ms("snapshots.compact"), "ms"),
      ("snapshots.expire_ms", ms("snapshots.expire"), "ms"),
      ("snapshots.jobs_per_write", per(jobsIn(writes), writes), "count"),
      ("snapshots.files_added", perCall("snapshots.files_added", writes), "count"),
      ("snapshots.bytes_written", perCall("snapshots.bytes_written", writes), "bytes"),
      ("snapshots.read_ms", ms("snapshots.read"), "ms"),
      ("views.refresh_ms", ms("views.refresh"), "ms"),
      ("views.join_refresh_ms", ms("views.join_refresh"), "ms"),
      ("views.stream_refresh_ms", ms("views.stream_refresh"), "ms"),
      ("views.jobs_per_refresh", per(jobsIn(refreshes), refreshes), "count"),
      ("views.shuffle_bytes_per_refresh", per(shuffleIn(refreshes), refreshes), "bytes"),
      ("operators.text_build_s", sec("operators.text_build"), "s"),
      ("operators.minhash_build_s", sec("operators.minhash_build"), "s"),
      ("operators.ivf_build_s", sec("operators.ivf_build"), "s"),
      ("operators.hnsw_build_s", sec("operators.hnsw_build"), "s"),
      ("operators.bm25_serve_ms", ms("operators.bm25_serve"), "ms"),
      ("operators.minhash_probe_ms", ms("operators.minhash_probe"), "ms"),
      ("operators.ivf_serve_ms", ms("operators.ivf_serve"), "ms"),
      ("operators.hnsw_serve_ms", ms("operators.hnsw_serve"), "ms"),
      ("operators.ann_recall_at_10", h.extras.getOrElse("ann_recall_at_10", 0.0), "fraction"),
      ("operators.add_ms", ms("operators.add"), "ms"),
      ("operators.remove_ms", ms("operators.remove"), "ms"),
      ("spark.jobs_per_op", telPerOp(_.jobs.toDouble), "count"),
      ("spark.stages_per_op", telPerOp(_.stages.toDouble), "count"),
      ("spark.tasks_per_op", telPerOp(_.tasks.toDouble), "count"),
      ("spark.sched_wait_ms", tel.map(x =>
        if (x.tasks == 0) 0.0 else x.schedWaitMs.toDouble / x.tasks).getOrElse(0.0), "ms"),
      ("spark.task_busy_frac", tel.map(x =>
        x.taskRunMs / (h.timedSeconds * 1000.0 * args.cores)).getOrElse(0.0), "fraction"),
      ("spark.shuffle_bytes_per_op", telPerOp(_.shuffleBytes.toDouble), "bytes"),
      ("spark.spill_bytes", tel.map(_.spillBytes.toDouble).getOrElse(0.0), "bytes"),
      ("jvm.gc_ms_per_op", h.extras("gc_ms") / math.max(1, ops), "ms"))
  }

  /** Median and sample count per operation class, where the count
    * supports a median (see [[Stats.percentile]]).
    */
  private lazy val byKind: Seq[(String, Int, Double, Option[Double], Option[Double])] =
    h.samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      val xs = ss.map(_.ms).toSeq
      (k, xs.size, Stats.mean(xs), Stats.percentile(xs, 0.5), Stats.percentile(xs, 0.9))
    }

  private lazy val metrics = if (args.trace) perLayer else endToEnd

  private lazy val env: Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_local_cores" -> args.cores,
    "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "load_avg_start" -> loadStart,
    "load_avg_end" -> loadEnd,
    "host_steal_frac" -> stealFrac,
    "host_busy_frac" -> hostBusyFrac,
    "process_cpu_s" -> Probe.processCpuNs / 1e9,
    "git_commit" -> args.commit,
    "source_digest" -> args.sourceDigest,
    "seed" -> args.seed,
    "seconds" -> args.seconds,
    "trace" -> args.trace,
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION)

  def resultLine: String = Json(mutable.LinkedHashMap(
    "correct" -> correct,
    "attempted" -> math.max(1, ops),
    "failed" -> (if (ops == 0) 1 else failed),
    "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
      n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)))

  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val self = h.tracer.selfNs
    val layerSelf = h.tracer.spans.groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) => n -> Map("calls" -> ss.size,
        "self_ms_total" -> ss.map(s => self(s.id)).sum / 1e6,
        "wall_ms_total" -> ss.map(_.durNs).sum / 1e6)
    }
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload,
      "env" -> env,
      "correct" -> correct,
      "attempted" -> ops,
      "failed" -> failed,
      "failures" -> h.failures.toSeq,
      "end_to_end" -> endToEnd.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "op_latency" -> Map("samples" -> ops, "mean_ms" -> Stats.mean(lat),
        "p50_ms" -> Stats.percentile(lat, 0.5), "p90_ms" -> Stats.percentile(lat, 0.9)),
      "per_class" -> byKind.map { case (k, n, mean, p50, p90) =>
        Map("kind" -> k, "samples" -> n, "mean_ms" -> mean, "p50_ms" -> p50, "p90_ms" -> p90) },
      "extras" -> h.extras,
      "samples" -> h.samples.map(x => Seq(x.kind, x.ms, x.ok)),
      "per_layer" -> (if (args.trace) perLayer.map { case (n, v, u) =>
        Map("name" -> n, "value" -> v, "unit" -> u) } else Nil),
      "layer_self_times" -> layerSelf.toMap,
      "counters" -> h.tracer.counters,
      "spans" -> h.tracer.spans.map(s => Seq(s.id, s.name, s.parent, s.op, s.startNs, s.endNs)))
    val w = new PrintWriter(f, StandardCharsets.UTF_8.name())
    try w.println(Json(doc)) finally w.close()
  }

  def print(): Unit = {
    val out = System.out
    out.println(s"perfbench ${args.workload} seed=${args.seed} trace=${if (args.trace) 1 else 0}" +
      s" cores=${args.cores}/${Runtime.getRuntime.availableProcessors()}" +
      f" load=$loadStart%.2f->$loadEnd%.2f steal=$stealFrac%.3f busy=$hostBusyFrac%.3f" +
      s" commit=${args.commit}")
    out.println(s"operations: $ops attempted, $failed failed, correct=$correct")
    out.println(f"  all                n=$ops%5d mean=${Stats.mean(lat)}%8.1f ms" +
      f" p50=${Stats.percentile(lat, 0.5).map(x => f"$x%.1f ms").getOrElse("-")}%10s" +
      f" p90=${Stats.percentile(lat, 0.9).map(x => f"$x%.1f ms").getOrElse("-")}%10s")
    byKind.foreach { case (k, n, mean, p50, p90) =>
      out.println(f"  $k%-18s n=$n%5d mean=$mean%8.1f ms p50=${p50.map(x => f"$x%.1f ms").getOrElse("-")}%10s" +
        f" p90=${p90.map(x => f"$x%.1f ms").getOrElse("-")}%10s")
    }
    h.failures.take(10).foreach(f => out.println(s"  FAIL $f"))
    metrics.foreach { case (n, v, u) => out.println(f"  $n%-34s $v%14.4f $u") }
    out.println(resultLine)
  }
}
