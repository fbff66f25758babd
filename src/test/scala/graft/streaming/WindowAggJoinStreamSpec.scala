package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSuite

/** `StreamJoins.windowAggJoin`, the streaming `streamJoinW`: both sides'
  * window aggregates paired in ONE streaming aggregation. Pins which
  * windows of a finite AvailableNow replay emit in append mode (so a
  * gate's oracle can exclude exactly those), the output columns,
  * the inner pairing on keys, the late-data rule, the plan's one stateful
  * operator, and the failures: an aggregate that cannot be restricted to
  * its side, and a checkpoint of the earlier aggregate→join plan. */
class WindowAggJoinStreamSpec extends SparkSuite {
  import WindowAggJoinStreamSpec._

  test("windowAggJoin runs as one streaming aggregation and matches batch on closed windows") {
    val eventsBatch = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
    val replayDir = Files.createTempDirectory("graft-waj").toString
    eventsBatch.write.mode("overwrite").parquet(replayDir)
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(replayDir)
    val joined = StreamJoins.windowAggJoin(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"),
      tsLeft = "ts", tsRight = "ts", duration = "1 hour", watermark = "1 minute",
      leftAggs = Seq(count(lit(1)).as("n_clicks")),
      rightAggs = Seq(count(lit(1)).as("n_purchases")))
    assert(joined.columns.toSeq == Seq("w", "n_clicks", "n_purchases"))
    val q = joined
      .select(col("w.start").as("window_start"), col("n_clicks"), col("n_purchases"))
      .writeStream.format("memory").queryName("waj_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("waj_test")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet

    // batch truth over ALL windows; the streaming run may withhold windows
    // the final watermark has not passed — got must be a subset that
    // includes every window closed by (max ts - 1 minute)
    val c = eventsBatch.filter(col("event_type") === "click")
      .groupBy(window(col("ts"), "1 hour").as("w")).agg(count(lit(1)).as("n_clicks"))
    val p = eventsBatch.filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 hour").as("w")).agg(count(lit(1)).as("n_purchases"))
    val all = c.join(p, "w")
      .select(col("w.start"), col("w.end"), col("n_clicks"), col("n_purchases"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    val maxTs = eventsBatch.agg(max(col("ts"))).collect().head.getTimestamp(0)
    val horizon = maxTs.getTime - 60000L
    val mustEmit = all.filter(_._2.getTime <= horizon).map(t => (t._1, t._3, t._4)).toSet
    val batchAll = all.map(t => (t._1, t._3, t._4)).toSet
    assert(got.subsetOf(batchAll), s"streaming emitted windows absent from batch: ${got -- batchAll}")
    assert(mustEmit.subsetOf(got),
      s"windows provably closed by the watermark did not emit: ${mustEmit -- got}")
    assert(got.nonEmpty)
  }

  test("windowAggJoin with differing durations pairs each fine window with its containing coarse window") {
    val eventsBatch = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
    val replayDir = Files.createTempDirectory("graft-waj2").toString
    eventsBatch.write.mode("overwrite").parquet(replayDir)
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(replayDir)
    // left = FINE (30 min), right = COARSE (1 hour): the Taxi Q2 shape
    val joined = StreamJoins.windowAggJoin(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"),
      tsLeft = "ts", tsRight = "ts",
      durationLeft = "30 minutes", durationRight = "1 hour",
      watermark = "1 minute",
      leftAggs = Seq(count(lit(1)).as("n_clicks")),
      rightAggs = Seq(count(lit(1)).as("n_purchases")))
    assert(joined.columns.toSeq == Seq("w", "wl", "n_clicks", "n_purchases"))
    val q = joined
      .select(col("w.start").as("coarse_start"), col("wl.start").as("fine_start"),
        col("n_clicks"), col("n_purchases"))
      .writeStream.format("memory").queryName("waj2_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("waj2_test").collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet

    // every emitted fine window must start inside its coarse partner
    got.foreach { case (cs, fs, _, _) =>
      assert(fs.getTime >= cs.getTime && fs.getTime < cs.getTime + 3600000L,
        s"fine window $fs not contained in coarse window starting $cs")
    }
    // batch truth: 30-min click counts joined to the hour bucket's purchase count
    val c = eventsBatch.filter(col("event_type") === "click")
      .groupBy(window(col("ts"), "30 minutes").as("wl")).agg(count(lit(1)).as("n_clicks"))
      .withColumn("h", window(col("wl"), "1 hour"))
    val p = eventsBatch.filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 hour").as("h")).agg(count(lit(1)).as("n_purchases"))
    val all = c.join(p, "h")
      .select(col("h.start"), col("h.end"), col("wl.start"), col("n_clicks"), col("n_purchases"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4)))
    val maxTs = eventsBatch.agg(max(col("ts"))).collect().head.getTimestamp(0)
    val horizon = maxTs.getTime - 60000L
    val batchAll = all.map(t => (t._1, t._3, t._4, t._5)).toSet
    // closing the COARSE window implies every contained fine window closed
    val mustEmit = all.filter(_._2.getTime <= horizon).map(t => (t._1, t._3, t._4, t._5)).toSet
    assert(got.subsetOf(batchAll), s"streaming emitted pairs absent from batch: ${got -- batchAll}")
    assert(mustEmit.subsetOf(got),
      s"pairs provably closed by the watermark did not emit: ${mustEmit -- got}")
    assert(got.nonEmpty)
  }

  test("keyed windowAggJoin groups each side per (window, key) and pairs on (coarse window, key)") {
    val eventsBatch = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
    val replayDir = Files.createTempDirectory("graft-waj3").toString
    eventsBatch.write.mode("overwrite").parquet(replayDir)
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(replayDir)
      .withColumn("seg", pmod(col("user_id"), lit(3)))
    val joined = StreamJoins.windowAggJoin(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"),
      tsLeft = "ts", tsRight = "ts",
      durationLeft = "30 minutes", durationRight = "1 hour",
      watermark = "1 minute",
      leftAggs = Seq(count(lit(1)).as("n_clicks")),
      rightAggs = Seq(count(lit(1)).as("n_purchases")),
      keys = Seq("seg"))
    assert(joined.columns.toSeq == Seq("w", "seg", "wl", "n_clicks", "n_purchases"))
    val q = joined
      .select(col("w.start").as("coarse_start"), col("wl.start").as("fine_start"),
        col("seg"), col("n_clicks"), col("n_purchases"))
      .writeStream.format("memory").queryName("waj3_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("waj3_test").collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet

    val eb = eventsBatch.withColumn("seg", pmod(col("user_id"), lit(3)))
    val c = eb.filter(col("event_type") === "click")
      .groupBy(window(col("ts"), "30 minutes").as("wl"), col("seg"))
      .agg(count(lit(1)).as("n_clicks"))
      .withColumn("h", window(col("wl"), "1 hour"))
    val p = eb.filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 hour").as("h"), col("seg"))
      .agg(count(lit(1)).as("n_purchases"))
    val all = c.join(p, Seq("h", "seg"))
      .select(col("h.start"), col("h.end"), col("wl.start"), col("seg"),
        col("n_clicks"), col("n_purchases"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val maxTs = eventsBatch.agg(max(col("ts"))).collect().head.getTimestamp(0)
    val horizon = maxTs.getTime - 60000L
    val batchAll = all.map(t => (t._1, t._3, t._4, t._5, t._6)).toSet
    val mustEmit = all.filter(_._2.getTime <= horizon).map(t => (t._1, t._3, t._4, t._5, t._6)).toSet
    assert(got.subsetOf(batchAll), s"streaming emitted keyed pairs absent from batch: ${got -- batchAll}")
    assert(mustEmit.subsetOf(got),
      s"keyed pairs provably closed by the watermark did not emit: ${mustEmit -- got}")
    // the key must actually split the pairing: at least two distinct segs emitted
    assert(got.map(_._3).size >= 2, s"expected multiple segments, got ${got.map(_._3)}")
  }

  test("windowAggJoin with the right side finer emits the right side's own window as wr") {
    val in = MemoryStream[Tick](spark)
    val ticks = in.toDF()
    val joined = StreamJoins.windowAggJoin(
      ticks.filter(col("side") === "L"), ticks.filter(col("side") === "R"),
      "ts", "ts", "1 hour", "30 minutes", "1 minute",
      Seq(count(lit(1)).as("n_l")), Seq(count(lit(1)).as("n_r")))
    assert(joined.columns.toSeq == Seq("w", "n_l", "wr", "n_r"))
    val q = start("waj_wr", joined)
    in.addData(Tick(at(10), "L", "a"), Tick(at(50), "L", "a"),
      Tick(at(5), "R", "a"), Tick(at(20), "R", "a"), Tick(at(40), "R", "a"))
    q.processAllAvailable()
    in.addData(Tick(at(120), "L", "a"), Tick(at(120), "R", "a")) // closes the first hour
    q.processAllAvailable()
    q.stop()
    assert(emitted("waj_wr") == Set(Seq(at(0), at(0), 2L, 2L), Seq(at(0), at(30), 2L, 1L)))
  }

  test("windowAggJoin pairs no row whose key is null") {
    val in = MemoryStream[Tick](spark)
    val q = start("waj_null", sides(in.toDF(), "1 hour", "1 hour", Seq("k")))
    in.addData(Tick(at(10), "L", null), Tick(at(20), "R", null),
      Tick(at(30), "L", "a"), Tick(at(40), "R", "a"), Tick(at(45), "R", "a"))
    q.processAllAvailable()
    in.addData(Tick(at(180), "L", "b"), Tick(at(180), "R", "b")) // closes the first hour
    q.processAllAvailable()
    q.stop()
    assert(emitted("waj_null") == Set(Seq(at(0), "a", 1L, 2L)))
  }

  test("a fine-side row behind its fine window but inside its open coarse window still counts") {
    val in = MemoryStream[Tick](spark)
    val q = start("waj_late", sides(in.toDF(), "15 minutes", "30 minutes", Nil))
    in.addData(Tick(at(1), "L", "a"), Tick(at(2), "R", "a"), Tick(at(20), "L", "a"), Tick(at(20), "R", "a"))
    q.processAllAvailable() // watermark 00:19: the fine window [00:00, 00:15) has closed
    in.addData(Tick(at(5), "L", "a"))
    q.processAllAvailable()
    in.addData(Tick(at(60), "L", "a"), Tick(at(60), "R", "a")) // closes [00:00, 00:30)
    q.processAllAvailable()
    q.stop()
    assert(emitted("waj_late") == Set(Seq(at(0), at(0), 2L, 2L), Seq(at(0), at(15), 1L, 2L)))
  }

  test("windowAggJoin plans one stateful operator and no stream-stream join") {
    val in = MemoryStream[Tick](spark)
    val q = start("waj_plan", sides(in.toDF(), "15 minutes", "30 minutes", Seq("k")))
    in.addData(Tick(at(1), "L", "a"), Tick(at(2), "R", "a"))
    q.processAllAvailable()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    q.stop()
    assert(plan.collect { case s: StateStoreSaveExec => s }.size == 1, plan.treeString)
    assert(plan.collect { case j: StreamingSymmetricHashJoinExec => j }.isEmpty, plan.treeString)
  }

  test("a side aggregate that cannot be restricted to its side fails at construction, naming it") {
    val ticks = MemoryStream[Tick](spark).toDF()
    spark.udf.register("graft_waj_count", udaf(CountAgg, Encoders.STRING))
    def build(leftAgg: Column) = StreamJoins.windowAggJoin(
      ticks.filter(col("side") === "L"), ticks.filter(col("side") === "R"),
      "ts", "ts", "1 hour", "1 minute", Seq(leftAgg.as("n_l")), Seq(count(lit(1)).as("n_r")))
    val e = intercept[IllegalArgumentException](build(call_function("graft_waj_count", col("k"))))
    assert(e.getMessage.contains("graft_waj_count"), e.getMessage)
    // the same aggregator passed as a Column is restricted to its side
    val inline = build(udaf(CountAgg, Encoders.STRING)(col("k"))).queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect { case a: AggregateExpression => a }))
      .filter(_.aggregateFunction.getClass.getSimpleName == "ScalaAggregator")
    assert(inline.size == 1 && inline.head.filter.exists(_.sql.contains("__side")), inline)
  }

  test("restarting windowAggJoin on a checkpoint of the aggregate-then-join plan fails and emits nothing") {
    val in = MemoryStream[Tick](spark)
    val ckpt = Files.createTempDirectory("graft-waj-ckpt").toString
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(df: DataFrame): StreamingQuery = df.select(col("w.start").cast("string").as("s"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], _: Long) => b.collect().foreach(r => out.add(r.getString(0))); () }
      .start()
    val old = run(aggregateThenJoin(in.toDF()))
    in.addData(Tick(at(1), "L", "a"), Tick(at(2), "R", "a"), Tick(at(90), "L", "a"), Tick(at(90), "R", "a"))
    old.processAllAvailable()
    old.stop()
    assert(out.asScala.nonEmpty, "the old plan wrote no checkpoint worth restarting")
    out.clear()
    val q = run(sides(in.toDF(), "15 minutes", "30 minutes", Seq("k")))
    in.addData(Tick(at(95), "L", "a"), Tick(at(180), "L", "a"), Tick(at(180), "R", "a"))
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    q.stop()
    assert(e.getMessage.contains("NOT_MATCH_IN_STATE_METADATA"), e.getMessage)
    assert(out.isEmpty, s"the restarted query emitted ${out.asScala}")
  }

  /** Q2's shape over one `Tick` stream: side L (fine or equal) counted
    * against side R, keyed by `keys`. */
  private def sides(ticks: DataFrame, fine: String, coarse: String, keys: Seq[String]): DataFrame =
    StreamJoins.windowAggJoin(
      ticks.filter(col("side") === "L"), ticks.filter(col("side") === "R"),
      "ts", "ts", fine, coarse, "1 minute",
      Seq(count(lit(1)).as("n_l")), Seq(count(lit(1)).as("n_r")), keys)

  /** The aggregate-then-join plan `windowAggJoin` ran as before it was one
    * aggregation: each side's own windowed count, the fine one re-bucketed
    * into the coarse grid, then a stream-stream join on (coarse window, k). */
  private def aggregateThenJoin(ticks: DataFrame): DataFrame = {
    val l = ticks.filter(col("side") === "L").withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "15 minutes").as("wl"), col("k")).agg(count(lit(1)).as("n_l"))
      .withColumn("w", window(col("wl"), "30 minutes"))
    val r = ticks.filter(col("side") === "R").withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "30 minutes").as("w"), col("k")).agg(count(lit(1)).as("n_r"))
    l.join(r, Seq("w", "k"))
  }

  private def start(name: String, joined: DataFrame): StreamingQuery = {
    val cols = Seq(col("w.start")) ++ Seq("wl", "wr").filter(joined.columns.contains).map(w => col(s"$w.start")) ++
      joined.columns.filter(_ == "k").map(col) ++ Seq(col("n_l"), col("n_r"))
    joined.select(cols: _*).writeStream.format("memory").queryName(name).outputMode("append").start()
  }

  private def emitted(name: String): Set[Seq[Any]] = spark.table(name).collect().map(_.toSeq).toSet
}

object WindowAggJoinStreamSpec {
  case class Tick(ts: Timestamp, side: String, k: String)
  implicit val tickEncoder: Encoder[Tick] = Encoders.product[Tick]

  /** Minute `m` of 2024-01-01 (UTC). */
  def at(m: Int): Timestamp = new Timestamp(1704067200000L + m * 60000L)

  /** Counts its rows: a UDAF to register by name. */
  object CountAgg extends Aggregator[String, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: String): Long = b + 1
    def merge(a: Long, b: Long): Long = a + b
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
