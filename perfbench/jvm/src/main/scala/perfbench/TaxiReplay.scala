package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.examples.Taxi
import graft.operators.Relational
import graft.operators.Relational.roundp
import graft.sources.TaxiCsv
import graft.streaming.{GateTuning, StreamJoins}

/** `taxi_replay`: closed-loop drain of generated DEBS-2015 trip CSV. The
  * chunk files are read one per trigger; DEBS Q1 (frequent routes, 30-min
  * windows, top 10) and Q2 (`StreamJoins.windowAggJoin` of the 15-min
  * `medianUpper` profit per pickup cell with the 30-min empty-taxi count per
  * dropoff cell) run as two streaming queries to completion. The drain
  * repeats, each time on a fresh checkpoint, until `--seconds` have passed.
  * A traced run instead makes four drains — untraced, traced, traced,
  * untraced — and then one on a `local[1]` session.
  *
  * `TaxiCsv.readStream` takes no reader options, so the chunk files are
  * streamed as text with `maxFilesPerTrigger = 1` and parsed by the
  * program's `TaxiCsv.parseLines` — the same schema and normalisation. */
final class TaxiReplay extends Workload {
  val WatermarkDelayS = 120
  val WatermarkDelay = s"$WatermarkDelayS seconds"
  /** Drains per run at least. One drain of the four chunks outlasts
    * `--seconds` (8) on 4 cores, so a run makes one drain. */
  val MinDrains = 1

  private def chunks(ctx: Ctx): Seq[Path] =
    Files.list(ctx.opts.inputs).iterator.asScala.filter(_.getFileName.toString.endsWith(".csv"))
      .toSeq.sortBy(_.getFileName.toString)

  private lazy val trips: Long = chunksCache.map(p => Files.lines(p).count()).sum
  private var chunksCache: Seq[Path] = Nil
  private var drainNo = 0

  /** A directory holding just the chunk files (hard links). */
  private def sourceDir(ctx: Ctx): Path = {
    val d = Files.createDirectories(ctx.opts.work.resolve("taxi-src"))
    if (Files.list(d).count() == 0)
      chunksCache.foreach(p => Files.createLink(d.resolve(p.getFileName), p))
    d
  }

  private def warmDir(ctx: Ctx): Path = ctx.opts.inputs.resolve("warm")

  private def parsed(ctx: Ctx, src: Path): DataFrame =
    TaxiCsv.parseLines(ctx.spark.readStream.option("maxFilesPerTrigger", "1").text(src.toString), "value")

  def q1(trips: DataFrame): DataFrame =
    trips.select(col("event_time").as("ts"),
        Taxi.cellLatQ1(col("pickup_lat")).as("s_clat"), Taxi.cellLonQ1(col("pickup_long")).as("s_clon"),
        Taxi.cellLatQ1(col("dropoff_lat")).as("e_clat"), Taxi.cellLonQ1(col("dropoff_long")).as("e_clon"))
      .filter(Taxi.inRangeQ1(col("s_clat"), col("s_clon")) && Taxi.inRangeQ1(col("e_clat"), col("e_clon")))
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "30 minutes").as("w"),
        col("s_clat"), col("s_clon"), col("e_clat"), col("e_clon"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("s_clat"), col("s_clon"),
        col("e_clat"), col("e_clon"), col("n"))

  def q2(trips: DataFrame): DataFrame = {
    val profit = trips
      .select(col("event_time").as("ts"), (col("fare_amount") + col("tip_amount")).as("profit"),
        Taxi.cellLatQ2(col("pickup_lat")).as("clat"), Taxi.cellLonQ2(col("pickup_long")).as("clon"))
      .filter(Taxi.inRangeQ2(col("clat"), col("clon")))
    val empty = trips
      .select(col("event_time").as("ts"),
        Taxi.cellLatQ2(col("dropoff_lat")).as("clat"), Taxi.cellLonQ2(col("dropoff_long")).as("clon"))
      .filter(Taxi.inRangeQ2(col("clat"), col("clon")))
    StreamJoins.windowAggJoin(profit, empty, "ts", "ts", "15 minutes", "30 minutes", WatermarkDelay,
        Seq(Relational.medianUpper(col("profit")).as("profit")), Seq(count(lit(1)).as("n_empty")),
        keys = Seq("clat", "clon"))
      .select(col("w.start").as("window_start"), col("wl.start").as("sub_start"),
        col("clat"), col("clon"), col("n_empty"),
        roundp(col("profit"), 2).as("profit"), roundp(col("profit") / col("n_empty"), 4).as("profitability"))
  }

  /** Rows a sink collected, as JSON lines with timestamps in epoch µs. */
  private final class Sink(name: String) extends Serializable {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var retried = 0
    val writeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val commitNs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var startNs = 0L

    def write(b: DataFrame, id: Long, rank: Boolean): Unit = {
      if (!seen.add(id)) retried += 1
      val t0 = System.nanoTime()
      val out = if (rank) Relational.topKPerGroup(b, 10, Seq(col("window_start")),
          Seq(col("n").desc, col("s_clat"), col("s_clon"), col("e_clat"), col("e_clon"))) else b
      val cols = out.columns
      out.collect().foreach { r =>
        rows.add(cols.indices.map { i =>
          val v = r.get(i) match {
            case t: java.sql.Timestamp => graft.core.Event.micros(t).toString
            case null                  => "null"
            case x                     => x.toString
          }
          s"\"${cols(i)}\":$v"
        }.mkString(s"{\"q\":\"$name\",", ",", "}"))
      }
      val t1 = System.nanoTime()
      writeMs.add((t1 - t0) / 1e6)
      commitNs.add(t1)
    }
  }

  /** One drain of the files in `src`: (wall seconds, Q1 sink, Q2 sink).
    * With `firstBatch`, the queries stop once each has committed its first
    * micro-batch. */
  private def drain(ctx: Ctx, src: Path, firstBatch: Boolean = false): (Double, Sink, Sink) = {
    val spark = ctx.spark
    drainNo += 1
    val ck = ctx.opts.work.resolve(s"taxi-ckpt-$drainNo")
    val s1 = new Sink("q1")
    val s2 = new Sink("q2")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", GateTuning.statePartitionsStr)
    val t0 = System.nanoTime()
    s1.startNs = t0
    val qs: Seq[StreamingQuery] = try {
      def start(df: DataFrame, sink: Sink, rank: Boolean, q: String) =
        df.writeStream.outputMode("append").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ck.resolve(q).toString)
          .foreachBatch((b: Dataset[Row], id: Long) => sink.write(b, id, rank))
          .start()
      ctx.tracer.span("streaming.start") {
        Seq(start(q1(parsed(ctx, src)), s1, rank = true, "q1"), start(q2(parsed(ctx, src)), s2, rank = false, "q2"))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    ctx.tracer.span("streaming.await") {
      if (firstBatch) {
        while (s1.commitNs.isEmpty || s2.commitNs.isEmpty) {
          qs.foreach(_.exception.foreach(e => throw e))
          require(qs.exists(_.isActive), "taxi queries ended before their first batch")
          Thread.sleep(5)
        }
        qs.foreach(_.stop())
      } else qs.foreach(_.awaitTermination())
    }
    ((System.nanoTime() - t0) / 1e9, s1, s2)
  }

  def setup(ctx: Ctx): Unit = {
    chunksCache = chunks(ctx)
    require(chunksCache.nonEmpty, s"no taxi chunk files in ${ctx.opts.inputs}")
    // warm-up: the queries' start and first micro-batch, on a short replay
    ctx.tracer.span("setup.warmup")(drain(ctx, warmDir(ctx), firstBatch = true))
  }

  def teardown(ctx: Ctx): Unit = ctx.spark.streams.active.foreach(_.stop())

  def measure(ctx: Ctx): Unit = {
    val n = chunksCache.size
    val src = sourceDir(ctx)
    ctx.details.put("trips", trips)
    ctx.details.put("chunks", n)
    if (!ctx.opts.trace) {
      val deadline = System.nanoTime() + ctx.opts.seconds * 1000000000L
      val drains = mutable.ArrayBuffer.empty[(Double, Sink, Sink)]
      while (drains.size < MinDrains || System.nanoTime() < deadline) drains += drain(ctx, src)
      val eps = drains.map(d => trips / d._1)
      ctx.put("throughput_per_s", Stats.median(eps.toSeq), "1/s")
      // a chunk's latency: from the drain's start until both queries have
      // committed the batch that read it (batch k reads chunk k)
      val lat = drains.toSeq.flatMap { case (_, s1, s2) =>
        val (c1, c2) = (s1.commitNs.asScala.toSeq.sorted, s2.commitNs.asScala.toSeq.sorted)
        (0 until n).map(k => (math.max(c1(k), c2(k)) - s1.startNs) / 1e6)
      }
      ctx.put("latency_p50_ms", Stats.median(lat), "ms")
      ctx.put("latency_p99_ms", Stats.percentile(lat, 99), "ms")
      ctx.put("latency_geomean_ms", Stats.geomean(lat), "ms")
      ctx.details.put("latency_samples", lat.size)
      ctx.details.put("drain_s", drains.map(_._1).asJava)
      ctx.details.put("events_per_s", Stats.median(eps.toSeq))
      writeResults(ctx, drains.toSeq.map(d => (d._2, d._3)))
    } else {
      // untraced and traced drains alternate, so drift over the run cancels;
      // the layer listeners count the traced ones only
      val ls = LayerMetrics.create()
      val untraced = mutable.ArrayBuffer.empty[(Double, Sink, Sink)]
      val traced = mutable.ArrayBuffer.empty[(Double, Sink, Sink)]
      Seq(false, true, true, false).foreach { on =>
        if (on) {
          LayerMetrics.attach(ctx.spark, ls)
          traced += drain(ctx, src)
          LayerMetrics.detach(ctx.spark, ls)
        } else untraced += drain(ctx, src)
      }
      LayerMetrics.fill(ctx, ls, traced.map(_._1).sum * 1000)
      val sinks = traced.toSeq.flatMap(d => Seq(d._2, d._3))
      ctx.putLayer("sink.write_ms_p50", Stats.median(sinks.flatMap(_.writeMs.asScala.toSeq.map(_.toDouble))), "ms")
      ctx.putLayer("sink.batches_retried", sinks.map(_.retried).sum.toDouble, "count")
      val eps = Stats.median(untraced.toSeq.map(d => trips / d._1))
      ctx.putLayer("trace.overhead_pct", (eps / Stats.median(traced.toSeq.map(d => trips / d._1)) - 1) * 100, "%")
      ctx.details.put("drain_s_untraced", untraced.map(_._1).asJava)
      ctx.details.put("drain_s_traced", traced.map(_._1).asJava)
      writeResults(ctx, (untraced ++ traced).toSeq.map(d => (d._2, d._3)))
      // one-core reference: the same drain on a local[1] session
      teardown(ctx)
      ctx.spark.stop()
      ctx.spark = Main.session(1, ctx.opts.work)
      ctx.spark.sparkContext.setLogLevel("ERROR")
      drain(ctx, warmDir(ctx), firstBatch = true)
      val one = drain(ctx, src)
      ctx.putLayer("exec.speedup_vs_1core", eps / (trips / one._1), "ratio")
      ctx.details.put("events_per_s", eps)
      ctx.details.put("events_per_s_1core", trips / one._1)
    }
  }

  /** Every drain's output, for `run.py` to check against DuckDB. */
  private def writeResults(ctx: Ctx, sinks: Seq[(Sink, Sink)]): Unit = {
    val dir = Files.createDirectories(ctx.opts.work.resolve("taxi-out"))
    sinks.zipWithIndex.foreach { case ((s1, s2), i) =>
      Files.write(dir.resolve(s"drain-$i.jsonl"),
        (s1.rows.asScala ++ s2.rows.asScala).toSeq.asJava)
    }
    ctx.details.put("taxi_out_dir", dir.toString)
    ctx.details.put("watermark_delay_s", WatermarkDelayS)
  }
}
