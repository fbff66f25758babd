package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.SerializationFeature
import org.apache.spark.sql.SparkSession

/** Command-line options; `run.py` passes them. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    work: Path,   // per-run scratch: checkpoints, results, spans
    inputs: Path, // generated inputs of this seed
    python: String,
    root: Path,   // the checkout
    out: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, Paths.get(m("work")), Paths.get(m("inputs")),
      m.getOrElse("python", "python3"), Paths.get(m("root")), Paths.get(m("out")))
  }
}

/** What one run measures and records. End-to-end metrics go in `metrics`
  * on untraced runs; per-layer metrics on traced runs. */
final class Ctx(val opts: Opts) {
  var spark: SparkSession = _
  val tracer = new Tracer(opts.trace)
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Named failures: every missing, wrong or errored operation. */
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  val details = new java.util.LinkedHashMap[String, Any]()

  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def putLayer(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  def fail(what: String): Unit = failures += what
}

/** A benchmark workload: set-up (repeated, timed as `setup_s`), then the
  * measured part. */
trait Workload {
  /** Everything before the first timed operation, on a fresh session. */
  def setup(ctx: Ctx): Unit
  /** Undo `setup` so the next repetition starts clean. */
  def teardown(ctx: Ctx): Unit
  /** The timed part; also checks the outputs. */
  def measure(ctx: Ctx): Unit
}

object Main {
  val SetupRepeats = 3

  def session(cores: Int, work: Path): SparkSession = {
    val local = Files.createDirectories(work.resolve("spark-local")).toString
    // the program's own harness confs (graft.Bench), local dirs in the checkout
    graft.streaming.StateStores.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.catalyst.GraftExtensions")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.ui.retainedDeadExecutors", "1"))
      .getOrCreate()
  }

  def main(args: Array[String]): Unit =
    try run(Opts.parse(args))
    catch {
      case e: Throwable =>
        // Spark's threads would keep a failed run alive until it is killed
        e.printStackTrace()
        System.exit(1)
    }

  private def run(opts: Opts): Unit = {
    val ctx = new Ctx(opts)
    val wl: Workload = opts.workload match {
      case "wearable_live" => new WearableLive
      case "taxi_replay"   => new TaxiReplay
      case "catalog_batch" => new CatalogBatch
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val env = new java.util.LinkedHashMap[String, Any]()
    // where the run's wall time goes, in seconds since the JVM started
    val timeline = new java.util.LinkedHashMap[String, Any]()
    def mark(what: String): Unit = timeline.put(what, ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
    mark("main")
    env.put("nproc", Runtime.getRuntime.availableProcessors())
    env.put("cores", opts.cores)
    env.put("cpu_probe_ms", Proc.cpuProbeMs())
    env.put("external_busy_cores_before", Proc.externalBusyCores())
    env.put("seed", opts.seed)
    env.put("seconds", opts.seconds)
    env.put("trace", opts.trace)
    env.put("knobs", sys.env.filter { case (k, _) => k.startsWith("GRAFT_") || k.startsWith("SPARK_GRAFT_") }
      .toSeq.sorted.toMap.asJava)

    mark("probes")
    val (steal0, wall0) = (Proc.stealS, System.nanoTime())
    // set-up, repeated on fresh sessions; the last one stays for measuring
    val setupS = (1 to SetupRepeats).map { r =>
      val t0 = System.nanoTime()
      ctx.spark = ctx.tracer.span("setup.session")(session(opts.cores, opts.work))
      ctx.spark.sparkContext.setLogLevel("ERROR")
      wl.setup(ctx)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < SetupRepeats) { wl.teardown(ctx); ctx.spark.stop() }
      s
    }
    ctx.put("setup_s", Stats.median(setupS), "s")
    ctx.details.put("setup_s_each", setupS.asJava)
    env.put("spark_version", ctx.spark.version)
    env.put("spark_conf", ctx.spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot(_._1.contains("dir")).toMap.asJava)

    mark("setups")
    val gc0 = Proc.gcMs
    wl.measure(ctx)
    mark("measure")
    // what the program still holds once the workload has run: a full
    // collection leaves only live objects, so the figure does not depend on
    // when the last young collection happened
    System.gc()
    val (heapMb, nonHeapMb, bufferMb) = Proc.liveMb()
    ctx.put("live_mem_mb", heapMb + nonHeapMb + bufferMb, "MB")
    env.put("live_mem_parts_mb", Map("heap_after_gc" -> heapMb, "non_heap" -> nonHeapMb, "buffers" -> bufferMb).asJava)
    wl.teardown(ctx)
    env.put("peak_rss_mb", Proc.peakRssMb)
    if (opts.trace) {
      ctx.putLayer("jvm.gc_ms", (Proc.gcMs - gc0).toDouble, "ms")
      ctx.putLayer("jvm.heap_peak_mb", Proc.heapPeakMb, "MB")
    }
    env.put("external_busy_cores_after", Proc.externalBusyCores())
    env.put("steal_cores_during_run", (Proc.stealS - steal0) / ((System.nanoTime() - wall0) / 1e9))
    ctx.spark.stop()
    mark("stop")
    env.put("timeline_s", timeline)

    val art = new java.util.LinkedHashMap[String, Any]()
    art.put("workload", opts.workload)
    art.put("attempted", ctx.attempted)
    art.put("failed", ctx.failures.size)
    art.put("failures", ctx.failures.take(200).asJava)
    def asJson(m: mutable.LinkedHashMap[String, (Double, String)]) = {
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, (v, u)) =>
        val e = new java.util.LinkedHashMap[String, Any](); e.put("value", v); e.put("unit", u); o.put(k, e)
      }
      o
    }
    art.put("metrics", asJson(ctx.metrics))
    art.put("layer_metrics", asJson(ctx.layer))
    art.put("env", env)
    art.put("details", ctx.details)
    val mapper = new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)
    if (opts.trace) {
      val spans = ctx.tracer.spans.map { s =>
        val o = new java.util.LinkedHashMap[String, Any]()
        o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
        o.put("start_ns", s.startNs); o.put("end_ns", s.endNs); o
      }
      mapper.writeValue(opts.work.resolve("spans.json").toFile, spans.asJava)
      art.put("spans_file", opts.work.resolve("spans.json").toString)
      art.put("span_self_ms", ctx.tracer.selfMs.asJava)
    }
    mapper.writeValue(opts.out.toFile, art)
    // streaming sources and Spark's own pools may hold non-daemon threads
    System.exit(0)
  }
}

/** Shared pieces of the layer metrics. */
object LayerMetrics {
  /** Every per-layer metric the benchmark defines, zero until measured; a
    * workload that does not exercise a layer reports it as zero. */
  val all: Seq[(String, String)] = Seq(
    "plans.rewrite_ms" -> "ms", "plans.variants" -> "count", "plans.cost_ms" -> "ms", "plans.lower_ms" -> "ms",
    "sql.analysis_ms" -> "ms", "sql.optimizer_ms" -> "ms", "sql.planning_ms" -> "ms", "sql.executions" -> "count",
    "queries.build_ms" -> "ms", "queries.run_ms" -> "ms", "queries.leaked_blocks" -> "count",
    "exec.tasks" -> "count", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.cpu_util" -> "ratio",
    "exec.sched_delay_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_wait_ms" -> "ms", "exec.spill_bytes" -> "bytes",
    "exec.peak_exec_mem_bytes" -> "bytes", "exec.stage_skew" -> "ratio", "exec.speedup_vs_1core" -> "ratio",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms", "streaming.addbatch_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms", "streaming.offsets_ms_p50" -> "ms",
    "streaming.state_commit_ms_p50" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes", "streaming.rows_per_batch" -> "count",
    "streaming.nodata_batch_frac" -> "ratio",
    "sources.generator_late_ms_max" -> "ms", "sources.backlog_events_max" -> "count",
    "sink.write_ms_p50" -> "ms", "sink.batches_retried" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%")

  def create(): (LayerListener, StreamListener) = (new LayerListener, new StreamListener)

  /** Registers the listeners on the session. A streaming query runs on a
    * clone of the session that copies its execution listeners when it
    * starts: for a query already running, `qe = false` leaves the execution
    * listener as it is (registered before the start, counting only while
    * `on`). */
  def attach(spark: SparkSession, ls: (LayerListener, StreamListener), qe: Boolean = true): Unit = {
    spark.sparkContext.addSparkListener(ls._1)
    if (qe) spark.listenerManager.register(ls._1)
    spark.streams.addListener(ls._2)
    ls._1.on = true
  }

  def detach(spark: SparkSession, ls: (LayerListener, StreamListener), qe: Boolean = true): Unit = {
    // listener buses deliver asynchronously: let the last events land
    Thread.sleep(500)
    ls._1.on = false
    spark.sparkContext.removeSparkListener(ls._1)
    if (qe) spark.listenerManager.unregister(ls._1)
    spark.streams.removeListener(ls._2)
  }

  /** Fill the `sql`, `exec` and `streaming` metrics from the listeners;
    * `wallMs` is the measured interval they cover. */
  def fill(ctx: Ctx, ls: (LayerListener, StreamListener), wallMs: Double): Unit = {
    all.foreach { case (n, u) => if (!ctx.layer.contains(n)) ctx.putLayer(n, 0.0, u) }
    val (l, s) = ls
    ctx.putLayer("sql.analysis_ms", l.analysisMs.toDouble, "ms")
    ctx.putLayer("sql.optimizer_ms", l.optimizerMs.toDouble, "ms")
    ctx.putLayer("sql.planning_ms", l.planningMs.toDouble, "ms")
    ctx.putLayer("sql.executions", l.executions.toDouble, "count")
    ctx.putLayer("exec.tasks", l.tasks.toDouble, "count")
    ctx.putLayer("exec.task_run_ms", l.runMs.toDouble, "ms")
    ctx.putLayer("exec.task_cpu_ms", l.cpuNs / 1e6, "ms")
    ctx.putLayer("exec.cpu_util", l.cpuNs / 1e6 / (wallMs * ctx.opts.cores), "ratio")
    ctx.putLayer("exec.sched_delay_ms", l.schedDelayMs.toDouble, "ms")
    ctx.putLayer("exec.gc_ms", l.gcMs.toDouble, "ms")
    ctx.putLayer("exec.shuffle_write_bytes", l.shuffleWrite.toDouble, "bytes")
    ctx.putLayer("exec.shuffle_read_bytes", l.shuffleRead.toDouble, "bytes")
    ctx.putLayer("exec.shuffle_wait_ms", l.shuffleWaitMs.toDouble, "ms")
    ctx.putLayer("exec.spill_bytes", l.spill.toDouble, "bytes")
    ctx.putLayer("exec.peak_exec_mem_bytes", l.peakExecMem.toDouble, "bytes")
    ctx.putLayer("exec.stage_skew", l.stageSkew, "ratio")
    val bs = s.all
    if (bs.nonEmpty) {
      def p50(f: Batch => Long) = Stats.median(bs.map(b => f(b).toDouble))
      ctx.putLayer("streaming.batches", bs.size.toDouble, "count")
      ctx.putLayer("streaming.trigger_ms_p50", p50(_.triggerMs), "ms")
      ctx.putLayer("streaming.addbatch_ms_p50", p50(_.addBatchMs), "ms")
      ctx.putLayer("streaming.planning_ms_p50", p50(_.planningMs), "ms")
      ctx.putLayer("streaming.offsets_ms_p50", p50(_.offsetsMs), "ms")
      ctx.putLayer("streaming.state_commit_ms_p50", p50(_.stateCommitMs), "ms")
      ctx.putLayer("streaming.state_rows", bs.map(_.stateRows).max.toDouble, "count")
      ctx.putLayer("streaming.state_bytes", bs.map(_.stateBytes).max.toDouble, "bytes")
      val data = bs.filter(_.inputRows > 0)
      ctx.putLayer("streaming.rows_per_batch", Stats.median(data.map(_.inputRows.toDouble)), "count")
      ctx.putLayer("streaming.nodata_batch_frac", (bs.size - data.size).toDouble / bs.size, "ratio")
    }
  }
}
