package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Event, WindowMakers}
import graft.examples.Wearable.Sample
import graft.plans._
import graft.streaming.{GateTuning, StreamingOps}

/** `wearable_live`: open-loop load. A generator process (`wearable_gen.py`)
  * sends one wearable's accelerometer samples, each stamped with the time it
  * was due, over one TCP connection into `StreamingOps.socketSource`. The
  * pipeline is the reference wearable StreamGraph — vibe filter, norm map,
  * falling-edge FilterAcc, `chopTime 120` step count — taken through
  * `Rules.rewriteGraph`, `Jackson.calcAll`, `Planner.bestPlan` and
  * `StreamingLowering.lower` into a sink owned by the benchmark.
  *
  * Latency of a window = sink emission − due time of the last sample in the
  * window. The schedule: a warm phase, then the nominal rate for
  * `--seconds` (latency metrics), followed by a short pause in which only
  * ticks flow.
  *
  * A traced run splits the nominal phase into three back-to-back parts:
  * untraced, traced (the middle half, with the layer listeners attached)
  * and untraced again, so the tracing overhead compares the traced part with
  * the untraced ones around it. It then runs the ladder of rising rates
  * (`sustained_eps`), with the listeners detached, each rung followed by
  * the same pause. */
final class WearableLive extends Workload {
  import WearableLive._

  def schedule(ctx: Ctx): Seq[Phase] = {
    val warm = Phase("warm", "warm", WarmEps, WarmMs, 500)
    val ms = ctx.opts.seconds * 1000
    if (ctx.opts.trace)
      Seq(warm, Phase("nominal", "nominal", NominalEps, ms / 4, 0),
        Phase("nominal_traced", "nominal", NominalEps, ms / 2, 0),
        Phase("nominal_after", "nominal", NominalEps, ms / 4, GapMs)) ++
        Ladder.map(r => Phase(s"rung_$r", "rung", r, RungMs, GapMs))
    // no rung follows, so the pause only lets the last windows close
    else Seq(warm, Phase("nominal", "nominal", NominalEps, ms, 500))
  }

  // --- the run ------------------------------------------------------------

  private val outs = new java.util.concurrent.ConcurrentLinkedQueue[Out]()
  /** Each sink call: (emission µs, write ms). */
  private val sinkMs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val batchesSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  @volatile private var retried = 0
  private var query: StreamingQuery = _
  private var gen: Process = _
  private var rep = 0

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def file(ctx: Ctx, n: String): Path = ctx.opts.work.resolve(n)

  private def startGenerator(ctx: Ctx): Int = {
    val om = new ObjectMapper()
    val phases = schedule(ctx).map { p =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("name", p.name); m.put("kind", p.kind); m.put("rate", p.rate); m.put("ms", p.ms); m.put("gap_ms", p.gapMs)
      m
    }
    om.writeValue(file(ctx, "wearable-schedule.json").toFile, phases.asJava)
    val script = ctx.opts.root.resolve("perfbench/wearable_gen.py")
    gen = new ProcessBuilder(ctx.opts.python, script.toString,
      "--samples", ctx.opts.inputs.resolve("wearable.txt").toString,
      "--schedule", file(ctx, "wearable-schedule.json").toString,
      "--port-file", file(ctx, "gen.port").toString,
      "--stop-file", file(ctx, "gen.stop").toString,
      "--log", file(ctx, "gen.log.json").toString,
      "--warmup-conns", (Main.SetupRepeats - 1).toString)
      .redirectErrorStream(true).redirectOutput(file(ctx, "gen.out").toFile).start()
    val portFile = file(ctx, "gen.port")
    val deadline = System.nanoTime() + 60000000000L
    while (!Files.exists(portFile)) {
      require(gen.isAlive, "wearable generator exited: " + Files.readString(file(ctx, "gen.out")))
      require(System.nanoTime() < deadline, "wearable generator did not start")
      Thread.sleep(20)
    }
    Files.readString(portFile).trim.toInt
  }

  private var port = 0
  private var listeners: Option[(LayerListener, StreamListener)] = None

  def setup(ctx: Ctx): Unit = {
    if (gen == null) port = startGenerator(ctx)
    rep += 1
    outs.clear()
    batchesSeen.clear()
    val spark = ctx.spark
    val g = graph
    val opts = Planner.PlanOpts(maxNodeUtil = MaxNodeUtil, maxBandwidth = MaxBandwidth)
    val t0 = System.nanoTime()
    val variants = ctx.tracer.span("plans.rewrite")(Rules.rewriteGraph(opts.rules, g, opts.rewriteDepth))
    val t1 = System.nanoTime()
    val best = ctx.tracer.span("plans.cost") {
      Jackson.calcAll(g)
      Planner.bestPlan(opts, g)
    }.getOrElse(throw new IllegalStateException("Planner.bestPlan found no viable plan"))
    val t2 = System.nanoTime()
    val src: Dataset[Event[Any]] = StreamingOps.socketSource(spark, "127.0.0.1", port)
      .select(col("value")).as[String](Encoders.STRING)
      .map { line =>
        val f = line.split(',')
        val ts = Some(Event.fromMicros(f(0).toLong))
        if (f.length == 1) Event[Any](ts, None)
        else Event[Any](ts, Some(Sample(f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt)))
      }(Encoders.kryo[Event[Any]])
    val sourceId = best.graph.sources.head.id
    val sinkId = best.graph.sinks.head.id
    val lowered = ctx.tracer.span("plans.lower")(StreamingLowering.lower(spark, best.graph, Map(sourceId -> src)))(sinkId)
    val t3 = System.nanoTime()
    ctx.putLayer("plans.rewrite_ms", (t1 - t0) / 1e6, "ms")
    ctx.putLayer("plans.variants", variants.size.toDouble, "count")
    ctx.putLayer("plans.cost_ms", (t2 - t1) / 1e6, "ms")
    ctx.putLayer("plans.lower_ms", (t3 - t2) / 1e6, "ms")
    ctx.details.put("plan_graph", best.graph.show)
    ctx.details.put("plan_partitions", best.partitions.map(_.mkString("[", ",", "]")).mkString(" "))

    // the query runs on a clone of the session, which copies the batch
    // execution listeners at start: a traced run registers that one now,
    // counting only while the others are attached
    if (ctx.opts.trace && rep == Main.SetupRepeats) {
      val ls = LayerMetrics.create()
      ls._1.on = false
      spark.listenerManager.register(ls._1)
      listeners = Some(ls)
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", GateTuning.statePartitionsStr)
    try {
      query = ctx.tracer.span("streaming.start") {
        lowered.writeStream.outputMode("append")
          .option("checkpointLocation", file(ctx, s"wearable-ckpt-$rep").toString)
          .foreachBatch { (b: Dataset[Event[Any]], id: Long) =>
            if (!batchesSeen.add(id)) retried += 1
            val t = System.nanoTime()
            val rows = b.collect()
            val emit = nowUs
            rows.foreach { e =>
              e.time.foreach(ts => outs.add(Out(Event.micros(ts), e.value.get.asInstanceOf[Int], emit)))
            }
            sinkMs.add((emit, (System.nanoTime() - t) / 1e6))
            ()
          }
          .start()
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // set-up ends when the first window reaches the sink
    val deadline = System.nanoTime() + 120000000000L
    ctx.tracer.span("setup.first_window") {
      while (outs.isEmpty) {
        query.exception.foreach(e => throw e)
        require(System.nanoTime() < deadline, "no window emitted within 120 s")
        Thread.sleep(5)
      }
    }
  }

  def teardown(ctx: Ctx): Unit = if (query != null) { query.stop(); query = null }

  def measure(ctx: Ctx): Unit = {
    val phases = schedule(ctx)
    val t0 = outs.asScala.map(_.ws).min
    // phase offsets from the schedule start
    val offs = phases.scanLeft(0L)((o, p) => o + (p.ms + p.gapMs) * 1000L)
    val stopFile = file(ctx, "gen.stop")
    val verdicts = mutable.LinkedHashMap.empty[String, (Double, Double, Boolean)] // rung -> (p99, score, pass)
    var stopped = false
    // windows of a phase: those whose last sample is in it
    def lastDue(ws: Long): Option[(Int, Long)] = phases.indices.reverse.iterator.flatMap { pi =>
      val p = phases(pi)
      val n = p.rate.toLong * p.ms / 1000
      val x = ws + WindowUs - t0 - offs(pi) // due offset must stay below x
      val jMax = math.min(n - 1, (x * p.rate + 999999) / 1000000 - 1)
      if (jMax >= 0 && offs(pi) + jMax * 1000000L / p.rate >= ws - t0) Some(pi -> (t0 + offs(pi) + jMax * 1000000L / p.rate))
      else None
    }.nextOption()
    def latencies(pi: Int, at: Long): Seq[(Long, Double)] = {
      // every window of phase pi that should have closed: emitted, or pending
      val emitted = outs.asScala.toSeq.groupBy(_.ws).map { case (ws, os) => ws -> os.map(_.emitUs).min }
      val first = (offs(pi) / WindowUs)
      val last = (offs(pi) + phases(pi).ms * 1000L - 1) / WindowUs
      (first to last).flatMap { k =>
        val ws = t0 + k * WindowUs
        lastDue(ws).filter(_._1 == pi).map { case (_, due) =>
          ws -> (emitted.get(ws).map(_ - due).getOrElse(at - due) / 1000.0)
        }
      }
    }
    def judge(pi: Int, at: Long): (Double, Double, Boolean) = {
      val l = latencies(pi, at).map(_._2)
      val p99 = Stats.percentile(l, 99)
      val third = math.max(1, l.size / 3)
      val growth = Stats.median(l.takeRight(third)) - Stats.median(l.take(third))
      val grows = growth > MaxGrowth * phases(pi).ms
      // the score interpolated on is p99 over the limit; a rung that fails
      // only by a growing backlog scores just over 1
      val score = if (grows) math.max(p99 / LimitMs, 1.0 + 1e-6) else p99 / LimitMs
      (p99, score, score <= 1.0)
    }
    // follow the schedule: the listeners are attached for the traced part
    // only; rungs are judged as they end
    phases.indices.foreach { pi =>
      val p = phases(pi)
      if (p.name == "nominal_traced") listeners.foreach { ls =>
        sleepUntil(t0 + offs(pi))
        LayerMetrics.attach(ctx.spark, ls, qe = false)
        val on = nowUs
        sleepUntil(t0 + offs(pi) + p.ms * 1000L)
        LayerMetrics.detach(ctx.spark, ls, qe = false)
        LayerMetrics.fill(ctx, ls, (t0 + offs(pi) + p.ms * 1000L - on) / 1000.0)
      }
      if (p.kind == "rung" && !stopped) {
        val at = t0 + offs(pi) + p.ms * 1000L + (LimitMs * 1000).toLong + 50000
        sleepUntil(at)
        val v = judge(pi, at)
        verdicts(p.name) = v
        if (!v._3) { stopped = true; Files.writeString(stopFile, p.name) }
      }
    }
    // the generator ends with the tick that closes its last window
    val logFile = file(ctx, "gen.log.json")
    val genDeadline = System.nanoTime() + 60000000000L
    while (!Files.exists(logFile)) {
      require(System.nanoTime() < genDeadline && gen.isAlive, "wearable generator did not finish its schedule")
      Thread.sleep(20)
    }
    val log = new ObjectMapper().readTree(logFile.toFile)
    val windows = log.get("windows").asLong
    val deadline = System.nanoTime() + 30000000000L
    while (outs.asScala.count(_.ws >= t0) < windows && System.nanoTime() < deadline) Thread.sleep(20)
    query.exception.foreach(e => ctx.fail(s"query error: ${e.getMessage.linesIterator.take(1).mkString}"))
    query.stop()
    query = null
    // the generator exits once the program has closed the connection
    if (!gen.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) gen.destroyForcibly().waitFor()

    // correctness against the plain-Scala reference
    val ran = log.get("phases").elements.asScala.toSeq
    val samples = Files.readAllLines(ctx.opts.inputs.resolve("wearable.txt")).asScala.toIndexedSeq.map { l =>
      val f = l.split(','); Sample(f(0).toInt, f(1).toInt, f(2).toInt, f(3).toInt)
    }
    val sent = ran.flatMap { ph =>
      val (rate, n) = (ph.get("rate").asLong, ph.get("rate").asLong * ph.get("ms").asLong / 1000)
      (0L until n).map(j => (t0 + ph.get("offset_us").asLong + j * 1000000L / rate, (ph.get("first").asLong + j).toInt))
    }
    val expected = referenceSteps(samples, sent, t0)
    val got = outs.asScala.toSeq.groupBy(_.ws)
    ctx.attempted = windows
    (0L until windows).foreach { k =>
      val ws = t0 + k * WindowUs
      got.get(ws) match {
        case None => ctx.fail(s"window $k (start $ws us): missing")
        case Some(Seq(o)) if o.steps == expected.getOrElse(k, 0) => ()
        case Some(os) => ctx.fail(s"window $k (start $ws us): ${os.map(_.steps).mkString("+")} steps, reference ${expected.getOrElse(k, 0)}")
      }
    }
    got.keys.filter(ws => ws < t0 || ws >= t0 + windows * WindowUs || (ws - t0) % WindowUs != 0)
      .foreach(ws => ctx.fail(s"window at $ws us: not in the schedule"))

    // metrics
    ctx.details.put("generator", log.toString)
    if (!ctx.opts.trace) {
      val lat = latencies(phases.indexWhere(_.name == "nominal"), nowUs).map(_._2)
      ctx.put("latency_p50_ms", Stats.median(lat), "ms")
      ctx.put("latency_p99_ms", Stats.percentile(lat, 99), "ms")
      ctx.put("latency_geomean_ms", Stats.geomean(lat), "ms")
      ctx.details.put("latency_samples", lat.size)
      ctx.details.put("nominal_latency_ms", lat.map(x => math.rint(x * 10) / 10).asJava)
    } else {
      val rungs = phases.filter(_.kind == "rung")
      val judged = rungs.filter(r => verdicts.contains(r.name)).map(r => (r.rate.toDouble, verdicts(r.name)))
      val sustained = sustainedRate(judged.map { case (r, (_, s, _)) => (r, s) })
      ctx.put("throughput_per_s", sustained, "1/s")
      ctx.details.put("sustained_eps", sustained)
      val rv = new java.util.LinkedHashMap[String, Any]()
      verdicts.foreach { case (n, (p99, s, ok)) => rv.put(n, s"p99=${"%.1f".format(p99)}ms score=${"%.3f".format(s)} ${if (ok) "pass" else "fail"}") }
      ctx.details.put("rungs", rv)

      // every layer figure describes the traced part of the nominal phase
      val tp = phases.indexWhere(_.name == "nominal_traced")
      val (lo, hi) = (t0 + offs(tp), t0 + offs(tp) + phases(tp).ms * 1000L)
      val traced = latencies(tp, nowUs).map(_._2)
      val untraced = Seq("nominal", "nominal_after").flatMap(n => latencies(phases.indexWhere(_.name == n), nowUs).map(_._2))
      ctx.putLayer("trace.overhead_pct", (Stats.median(traced) / Stats.median(untraced) - 1) * 100, "%")
      ctx.details.put("latency_p50_ms_traced", Stats.median(traced))
      ctx.details.put("latency_p50_ms_untraced", Stats.median(untraced))
      ctx.putLayer("sources.generator_late_ms_max",
        ran.filter(_.get("name").asText == "nominal_traced").map(_.get("late_ms_max").asDouble).max, "ms")
      ctx.putLayer("sources.backlog_events_max", backlogMax(ran, t0, lo, hi), "count")
      ctx.putLayer("sink.write_ms_p50",
        Stats.median(sinkMs.asScala.toSeq.filter { case (e, _) => e >= lo && e < hi }.map(_._2)), "ms")
      ctx.putLayer("sink.batches_retried", retried.toDouble, "count")
    }
  }

  /** Largest backlog seen at a sink emission between `lo` and `hi` (µs):
    * samples due by then minus samples due before the end of the newest
    * emitted window. */
  private def backlogMax(ran: Seq[JsonNode], t0: Long, lo: Long, hi: Long): Double = {
    def dueBy(t: Long): Long = ran.map { ph =>
      val (rate, n, off) = (ph.get("rate").asLong, ph.get("rate").asLong * ph.get("ms").asLong / 1000, ph.get("offset_us").asLong)
      val x = t - t0 - off
      if (x < 0) 0L else math.min(n, x * rate / 1000000 + 1)
    }.sum
    val byBatch = outs.asScala.toSeq.filter(o => o.emitUs >= lo && o.emitUs <= hi).groupBy(_.emitUs)
    if (byBatch.isEmpty) 0.0
    else byBatch.map { case (emit, os) => (dueBy(emit) - dueBy(os.map(_.ws).max + WindowUs - 1)).toDouble }.max
  }

  private def sleepUntil(us: Long): Unit = {
    val d = (us - nowUs) / 1000
    if (d > 0) Thread.sleep(d)
  }
}

/** The pipeline, its reference and the schedule constants. Kept out of the
  * workload class so Spark closures capture nothing of the harness. */
object WearableLive {
  val WindowUs = 120000L
  val LimitMs = 2000.0
  /** A rung's backlog grows when the median latency of its last third
    * exceeds that of its first third by this share of the rung's length. */
  val MaxGrowth = 0.4
  /** The reference wearable's nominal sampling rate, 25 Hz
    * (WearableExample.hs:171). */
  val NominalEps = 25
  /** The warm phase runs at the nominal rate for some twenty micro-batches:
    * the per-batch planning and scheduling paths still speed up after the
    * set-up (with a 2 s warm phase the window latency was still falling
    * through the nominal phase). */
  val WarmEps = NominalEps
  val WarmMs = 8000
  /** Rates of the ladder, samples/s. They probe the pipeline's capacity,
    * so they span the sustained rates measured on 4 cores: about 17 000 to
    * 32 000 samples/s with 3 s rungs, and both 20 000 and 45 000 passed
    * with 1 s rungs. */
  val Ladder = Seq(20000, 40000, 70000)
  val RungMs = 2000
  /** The pause after each phase: the latency limit plus the time to judge. */
  val GapMs = 2200

  /** Plan limits of the reference's thesis evaluation of this pipeline
    * (WearableStats.hs:31-33). */
  val MaxNodeUtil = 1.1102e-4
  val MaxBandwidth = 1760.0

  /** Per-event service times of the reference's operators, measured with
    * Criterion (WearableStats.hs:38-63), in seconds. */
  object ServiceTime {
    val Source = 1.5e-7
    val VibeFilter = 7.73e-7
    val Squares = 9.19e-7
    val IntSqrt = 3.4e-6
    val FilterAcc = 1.6e-6
    val ChopTime = 1.24e-6
  }

  /** Selectivities of the two filters on the generated trace
    * (`inputs.wearable_samples`): 91.5 % of samples have the vibration motor
    * off, and 8.5 % of those end a stride (a falling edge). */
  val VibeOffShare = 0.915
  val StepShare = 0.085

  final case class Phase(name: String, kind: String, rate: Int, ms: Int, gapMs: Int)

  /** One emitted window: start (µs), step count, emission (µs). */
  final case class Out(ws: Long, steps: Int, emitUs: Long)

  def norm(s: Sample): Int =
    math.sqrt((s.x.toLong * s.x + s.y.toLong * s.y + s.z.toLong * s.z).toDouble).toInt

  /** The reference wearable StreamGraph (WearableExample.hs:66-96): the
    * norm is the reference's two maps, sum of squares then `intSqrt`. Each
    * operator is costed at the reciprocal of its measured service time; the
    * step-count map and the sink have no measured time and are not costed
    * (service rate 0). */
  def graph: StreamGraph = {
    def mu(t: Double) = 1.0 / t
    StreamGraph.path(Seq(
      StreamVertex(0, OpSource(NominalEps), Nil, "Sample", "Sample", mu(ServiceTime.Source)),
      StreamVertex(1, OpFilter(VibeOffShare), List(Param("vibe == 0", (s: Any) => s.asInstanceOf[Sample].vibe == 0)),
        "Sample", "Sample", mu(ServiceTime.VibeFilter)),
      StreamVertex(2, OpMap, List(Param("squares", (s: Any) => {
        val p = s.asInstanceOf[Sample]
        p.x.toLong * p.x + p.y.toLong * p.y + p.z.toLong * p.z: Any
      })), "Sample", "Int", mu(ServiceTime.Squares)),
      StreamVertex(3, OpMap, List(Param("intSqrt", (v: Any) => math.sqrt(v.asInstanceOf[Long].toDouble).toInt: Any)),
        "Int", "Int", mu(ServiceTime.IntSqrt)),
      StreamVertex(4, OpFilterAcc(StepShare), List(
        Param("\\_ v -> Just v", (_: Any, v: Any) => Some(v): Any),
        Param("Nothing", None: Any),
        Param("stepEvent", (v: Any, prev: Any) =>
          prev.asInstanceOf[Option[Int]].exists(_ > graft.examples.Wearable.Threshold) &&
            v.asInstanceOf[Int] <= graft.examples.Wearable.Threshold)), "Int", "Int", mu(ServiceTime.FilterAcc)),
      StreamVertex(5, OpWindow, List(Param("chopTime 120",
        (s: List[Event[Any]]) => WindowMakers.chopTime[Any](120)(s))), "Int", "[Int]", mu(ServiceTime.ChopTime)),
      StreamVertex(6, OpMap, List(Param("length", (w: Any) => w.asInstanceOf[Seq[Any]].length: Any)),
        "[Int]", "Int", 0.0),
      StreamVertex(7, OpSink, Nil, "Int", "IO", 0.0)))
  }

  /** The rate at which the rung score (p99 ÷ limit) crosses 1: a least-
    * squares line through (rate, log score) of every rung judged — the
    * passing ones and the first that failed — solved for log score = 0,
    * kept within half the lowest and 1.5 times the highest rate. One rung
    * alone scales its rate by 1 ÷ its score. */
  def sustainedRate(rungs: Seq[(Double, Double)]): Double =
    if (rungs.isEmpty) 0.0
    else if (rungs.size == 1) rungs.head._1 / rungs.head._2
    else {
      val xs = rungs.map(_._1)
      val ys = rungs.map(r => math.log(r._2))
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      val b = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / xs.map(x => (x - mx) * (x - mx)).sum
      val est = if (b > 0) mx - my / b else xs.max
      math.min(math.max(est, xs.min / 2), xs.max * 1.5)
    }

  /** Plain-Scala reference: steps per window, for the samples sent. */
  def referenceSteps(samples: IndexedSeq[Sample], sent: Seq[(Long, Int)], t0: Long): Map[Long, Int] = {
    var prev: Option[Int] = None
    val counts = mutable.Map.empty[Long, Int].withDefaultValue(0)
    sent.foreach { case (due, i) =>
      val s = samples(i % samples.size)
      if (s.vibe == 0) {
        val v = norm(s)
        if (prev.exists(_ > graft.examples.Wearable.Threshold) && v <= graft.examples.Wearable.Threshold)
          counts((due - t0) / WindowUs) += 1
        prev = Some(v)
      }
    }
    counts.toMap
  }
}
