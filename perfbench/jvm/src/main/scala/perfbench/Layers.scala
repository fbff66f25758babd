package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the benchmark makes across a layer boundary. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out when the run ends. Disabled, a span
  * is just the call: untraced runs pay nothing for it. */
final class Tracer(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime()))
        open.set(open.get.tail)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** A span's duration minus the part its children cover, summed by name. */
  def selfMs: Map[String, Double] = {
    val all = spans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Counters of the Spark layers under the program, collected by listeners
  * registered from outside: task execution (`exec`), Catalyst planning of
  * batch executions (`sql`) and micro-batch progress (`streaming`). */
final class LayerListener extends SparkListener with QueryExecutionListener {
  // exec
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var schedDelayMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWaitMs = 0L
  @volatile var spill = 0L
  @volatile var peakExecMem = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]
  // sql
  /** Whether batch executions are counted; see `LayerMetrics.attach`. */
  @volatile var on = true
  @volatile var executions = 0L
  @volatile var analysisMs = 0L
  @volatile var optimizerMs = 0L
  @volatile var planningMs = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      // the scheduler delay as Spark's own UI derives it
      val info = e.taskInfo
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += info.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ds =>
      if (ds.size >= 2) {
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        skews += ds.max / math.max(med, 1.0)
      }
    }
  }

  /** Median over stages of (slowest task ÷ median task); 1 when no stage had
    * two or more tasks. */
  def stageSkew: Double = synchronized(if (skews.isEmpty) 1.0 else Stats.median(skews.toSeq))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = if (on) synchronized {
    executions += 1
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizerMs += ms("optimization")
    planningMs += ms("planning")
  }
}

/** One micro-batch's progress, as the layer metrics use it. */
final case class Batch(inputRows: Long, triggerMs: Long, addBatchMs: Long, planningMs: Long,
                       offsetsMs: Long, stateCommitMs: Long, stateRows: Long, stateBytes: Long)

/** Per-micro-batch progress of every streaming query in the session. */
final class StreamListener extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
    val ops = p.stateOperators.toSeq
    batches.add(Batch(p.numInputRows, d("triggerExecution"), d("addBatch"), d("queryPlanning"),
      d("latestOffset") + d("walCommit") + d("commitOffsets"),
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }

  def all: Seq[Batch] = batches.asScala.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, the same rule as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Process-level probes: resident memory, JVM GC time and heap peak. */
object Proc {
  private def statusKb(key: String): Long =
    try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith(key + ":")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }

  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  /** Memory the program holds live, in MB: heap in use right after the
    * latest collection, non-heap (class metadata, generated code) and direct
    * and mapped buffers. Unlike the resident size, this does not follow the
    * heap size the JVM is given. */
  def liveMb(): (Double, Double, Double) = {
    val mb = 1024.0 * 1024.0
    val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    val nonHeap = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[java.lang.management.BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed.max(0L)).sum
    (heapAfterGc / mb, nonHeap / mb, buffers / mb)
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / (1024.0 * 1024.0)

  /** Busy cores of OTHER processes on the host over `ms`: /proc/stat busy
    * jiffies minus this process's own. */
  def externalBusyCores(ms: Long = 300): Double =
    try {
      def host(): Long = {
        val v = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
          .trim.split("\\s+").drop(1).map(_.toLong)
        v.take(8).sum - v(3) - v(4)
      }
      def self(): Long = {
        val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
        val f = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
        f(11).toLong + f(12).toLong
      }
      val (h0, s0, t0) = (host(), self(), System.nanoTime())
      Thread.sleep(ms)
      val (h1, s1, t1) = (host(), self(), System.nanoTime())
      (((h1 - h0) - (s1 - s0)).max(0L) / 100.0) / ((t1 - t0) / 1e9)
    } catch { case _: Exception => -1.0 }

  /** Host CPU time stolen by the hypervisor so far, in seconds. */
  def stealS: Double =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+")(8).toLong / 100.0
    catch { case _: Exception => -1.0 }

  /** Single-thread CPU speed: a fixed integer-mix loop, best of three, ms. */
  def cpuProbeMs(iters: Int = 30000000): Double = {
    def once(): Double = {
      var h = 0x9E3779B97F4A7C15L
      val t0 = System.nanoTime()
      var i = 0
      while (i < iters) {
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= i; i += 1
      }
      if (h == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e6
    }
    once()
    (1 to 3).map(_ => once()).min
  }
}
