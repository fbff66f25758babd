package graft.plans

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Event

/** The streaming lowering must agree with the batch lowering / interpreter
  * on replayed data. */
class StreamingLoweringSpec extends SparkSuite {
  import spark.implicits._

  private val pipeline = StreamGraph.path(Seq(
    StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
    StreamVertex(1, OpMap,
      List(Param("(*2)", (v: Any) => (v.asInstanceOf[Double] * 2): Any)), "Double", "Double", 1),
    StreamVertex(2, OpFilter(0.5),
      List(Param("(>20)", (v: Any) => v.asInstanceOf[Double] > 20.0)), "Double", "Double", 1),
    StreamVertex(3, OpScan, List(
      Param("sum", (acc: Any, v: Any) => (acc.asInstanceOf[Double] + v.asInstanceOf[Double]): Any),
      Param("0.0", 0.0: Any)), "Double", "Double", 1),
    StreamVertex(4, OpSink, Nil, "Double", "Double", 1)))

  test("streaming lowering of map/filter/scan matches the interpreter") {
    val eventsBatch = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .orderBy("ts", "event_id").limit(200)
    val replayDir = Files.createTempDirectory("graft-slower").toString
    eventsBatch.write.mode("overwrite").parquet(replayDir)

    val srcStream: Dataset[Event[Any]] = spark.readStream
      .schema(eventsBatch.schema).parquet(replayDir)
      .select(col("ts"), col("value"))
      .as[(java.sql.Timestamp, Double)]
      .map { case (ts, v) => Event(Some(ts), Some(v: Any)) }(Encoders.kryo[Event[Any]])

    val lowered = StreamingLowering.lower(spark, pipeline, Map(0 -> srcStream))(4)
    val q = lowered
      .map(e => (e.time.get, e.value.get.asInstanceOf[Double]))
      .toDF("ts", "running")
      .writeStream.format("memory").queryName("slower_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("slower_test")
      .collect().map(r => (r.getTimestamp(0), math.round(r.getDouble(1) * 100))).toList.sorted

    val input = eventsBatch.select(col("ts"), col("value"))
      .as[(java.sql.Timestamp, Double)].collect()
      .map { case (ts, v) => Event(Some(ts), Some(v: Any)) }.toList
    val expected = Interpreter.runToSinks(pipeline, Map(0 -> input)).values.head
      .map(e => (e.time.get, math.round(e.value.get.asInstanceOf[Double] * 100))).sorted
    assert(got == expected)
  }

  private def replayedSource(limit: Int): (Dataset[Event[Any]], List[Event[Any]]) = {
    val eventsBatch = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .orderBy("ts", "event_id").limit(limit)
    val replayDir = Files.createTempDirectory("graft-slower").toString
    eventsBatch.write.mode("overwrite").parquet(replayDir)
    val stream: Dataset[Event[Any]] = spark.readStream
      .schema(eventsBatch.schema).parquet(replayDir)
      .select(col("ts"), col("value"))
      .as[(java.sql.Timestamp, Double)]
      .map { case (ts, v) => Event(Some(ts), Some(v: Any)) }(Encoders.kryo[Event[Any]])
    val asList = eventsBatch.select(col("ts"), col("value"))
      .as[(java.sql.Timestamp, Double)].collect()
      .map { case (ts, v) => Event(Some(ts), Some(v: Any)) }.toList
    (stream, asList)
  }

  test("chopTime window lowers to a stateful streaming pass agreeing with the interpreter") {
    // 6h windows over the replayed event stream, first-event aligned
    val ms = 6L * 3600 * 1000
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param(s"chopTime $ms",
        (s: List[Event[Any]]) => graft.core.WindowMakers.chopTime[Any](ms)(s))), "Double", "[Double]", 1),
      StreamVertex(2, OpSink, Nil, "[Double]", "[Double]", 1)))
    val (src, input) = replayedSource(300)
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(2)
    val q = lowered
      .map(e => (e.time.map(_.getTime).getOrElse(-1L),
        e.value.get.asInstanceOf[List[Any]].map(_.asInstanceOf[Double]).sum))
      .toDF("start_ms", "sum_v")
      .writeStream.format("memory").queryName("slower_choptime").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slower_choptime")
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 100))).toList.sorted

    val expectedAll = Interpreter.runToSinks(g, Map(0 -> input)).values.head
      .map(e => (e.time.map(_.getTime).getOrElse(-1L),
        math.round(e.value.get.asInstanceOf[List[Any]].map(_.asInstanceOf[Double]).sum * 100)))
    // the final window of a finite replay never closes in streaming mode
    val expected = expectedAll.dropRight(1).sorted
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("zip-join lowers to a stateful pairing agreeing with the interpreter") {
    val g = StreamGraph(
      Vector(
        StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
        StreamVertex(1, OpSource(1), Nil, "Double", "Double", 1),
        StreamVertex(2, OpJoin, Nil, "Double", "(Double,Double)", 1),
        StreamVertex(3, OpSink, Nil, "(Double,Double)", "(Double,Double)", 1)),
      Vector(0 -> 2, 1 -> 2, 2 -> 3))
    val (srcA, inputA) = replayedSource(100)
    val (srcB, inputB) = replayedSource(60)
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> srcA, 1 -> srcB))(3)
    val q = lowered
      .map { e =>
        val (a, b) = e.value.get.asInstanceOf[(Any, Any)]
        (e.time.map(_.getTime).getOrElse(-1L), a.asInstanceOf[Double], b.asInstanceOf[Double])
      }
      .toDF("lt", "a", "b")
      .writeStream.format("memory").queryName("slower_zip").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slower_zip")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toList.sorted

    val expected = Interpreter.runToSinks(g, Map(0 -> inputA, 1 -> inputB)).values.head
      .map { e =>
        val (a, b) = e.value.get.asInstanceOf[(Any, Any)]
        (e.time.map(_.getTime).getOrElse(-1L), a.asInstanceOf[Double], b.asInstanceOf[Double])
      }.sorted
    assert(got == expected)
    assert(got.length == 60) // shorter side bounds the zip
  }

  test("zip-join guard fails loudly, naming the lagging side, under source imbalance") {
    // 50 left events vs 5 right: 45 unpaired left events buffer in state;
    // with maxBuffer = 10 the lowering must raise the directed error
    // instead of growing state without bound
    val (srcA, _) = replayedSource(50)
    val (srcB, _) = replayedSource(5)
    val lowered = StreamingLowering.zipJoinLower(srcA, srcB, maxBuffer = 10)
    val q = lowered
      .map(e => e.time.map(_.getTime).getOrElse(-1L))
      .toDF("lt")
      .writeStream.format("memory").queryName("slower_zip_guard").outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination()
    }
    q.stop()
    def chain(t: Throwable): List[Throwable] =
      Option(t).map(x => x :: chain(x.getCause)).getOrElse(Nil)
    val msg = chain(err).map(_.getMessage).mkString("\n")
    assert(msg.contains("zip-join state exceeded maxBuffer=10"), s"got: $msg")
    assert(msg.contains("right side has fallen behind"), s"error must name the lagging side: $msg")
    // balanced sides under the same bound stay below it and complete fine
    val (srcC, _) = replayedSource(12)
    val (srcD, _) = replayedSource(12)
    val ok = StreamingLowering.zipJoinLower(srcC, srcD, maxBuffer = 10)
      .map(e => e.time.map(_.getTime).getOrElse(-1L))
      .toDF("lt")
      .writeStream.format("memory").queryName("slower_zip_ok").outputMode("append").start()
    ok.processAllAvailable()
    ok.stop()
    assert(spark.table("slower_zip_ok").count() == 12)
  }

  test("chopTime gap guard bounds empty-window bursts from corrupt far-future stamps") {
    // 10ms windows; a third event 10^12 ms in the future would faithfully
    // demand ~10^11 empty windows in ONE micro-batch — the guard emits
    // MaxEmptyWindowsPerGap and jumps the (still first-event-aligned) origin.
    val ms = 10L
    val base = 1700000000000L
    val rows = Seq((new java.sql.Timestamp(base), 1.0),
      (new java.sql.Timestamp(base + 5), 2.0),
      (new java.sql.Timestamp(base + 1000000000000L), 3.0))
    val replayDir = Files.createTempDirectory("graft-gapguard").toString
    rows.toDF("ts", "value").write.mode("overwrite").parquet(replayDir)
    val src: Dataset[Event[Any]] = spark.readStream
      .schema(rows.toDF("ts", "value").schema).parquet(replayDir)
      .as[(java.sql.Timestamp, Double)]
      .map { case (ts, v) => Event(Some(ts), Some(v: Any)) }(Encoders.kryo[Event[Any]])
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param(s"chopTime $ms",
        (s: List[Event[Any]]) => graft.core.WindowMakers.chopTime[Any](ms)(s))), "Double", "[Double]", 1),
      StreamVertex(2, OpSink, Nil, "[Double]", "[Double]", 1)))
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(2)
    val q = lowered
      .map(e => (e.time.map(_.getTime).getOrElse(-1L),
        e.value.get.asInstanceOf[List[Any]].map(_.asInstanceOf[Double]).sum))
      .toDF("start_ms", "sum_v")
      .writeStream.format("memory").queryName("slower_gap").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slower_gap").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == StreamingLowering.MaxEmptyWindowsPerGap)
    // the one closed data window carries both early events; all others empty
    assert(got.count(_._2 != 0.0) == 1)
    assert(got.find(_._2 != 0.0).get._2 == 3.0)
  }

  test("Event.fromMicros round-trips microsecond-precise timestamps") {
    for (us <- Seq(0L, 1L, 999999L, 1000000L, 1723600000123456L, -1L, -999999L, -1000001L))
      assert(Event.micros(Event.fromMicros(us)) == us, s"us=$us")
  }

  /** Two time-ordered parquet files with strictly increasing mtimes so
    * `maxFilesPerTrigger=1` replays them as TWO micro-batches — the
    * generic fallback's cross-batch behavior (state carry, re-apply,
    * prefix-monotonicity check) only exercises with ≥ 2 batches. */
  private def twoBatchSource(rows1: Seq[(java.sql.Timestamp, Double)],
                             rows2: Seq[(java.sql.Timestamp, Double)]): Dataset[Event[Any]] =
    nBatchSource(Seq(rows1, rows2))

  private def nBatchSource(batches: Seq[Seq[(java.sql.Timestamp, Double)]]): Dataset[Event[Any]] = {
    val dir = Files.createTempDirectory("graft-slower-nb")
    def writeOne(rows: Seq[(java.sql.Timestamp, Double)], name: String, mtime: Long): Unit = {
      val sub = Files.createTempDirectory("graft-slower-nb-part")
      rows.toDF("ts", "value").coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val part = scala.util.Using.resource(Files.list(sub)) {
        _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      }
      val target = dir.resolve(name)
      Files.move(part, target)
      target.toFile.setLastModified(mtime)
      ()
    }
    val base = System.currentTimeMillis() - 3600000L
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeOne(rows, f"b$i%02d.parquet", base + 10000L * i)
    }
    spark.readStream
      .schema(batches.head.toDF("ts", "value").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .as[(java.sql.Timestamp, Double)]
      .map { case (ts, v) => Event(Some(ts), Some(v: Any)) }(Encoders.kryo[Event[Any]])
  }

  private def t(ms: Long) = new java.sql.Timestamp(ms)

  test("arbitrary window-maker closures lower via the bounded-buffer fallback") {
    // the reference's tripTimes idiom (Taxi.hs:400-402): one singleton
    // window per event, re-stamped from the payload (+1s here)
    val tripish = (s: List[Event[Any]]) => s.map { e =>
      List(Event(e.time.map(x => Event.fromMicros(Event.micros(x) + 1000000L)), e.value))
    }
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param("tripish", tripish: Any)), "Double", "[Double]", 1),
      StreamVertex(2, OpSink, Nil, "[Double]", "[Double]", 1)))
    val rows1 = (0 until 6).map(i => (t(1000L * i), i.toDouble))
    val rows2 = (6 until 10).map(i => (t(1000L * i), i.toDouble))
    val src = twoBatchSource(rows1, rows2)
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(2)
    val q = lowered
      .map(e => (e.time.get.getTime,
        e.value.get.asInstanceOf[List[Any]].map(_.asInstanceOf[Double]).sum))
      .toDF("ts_ms", "v")
      .writeStream.format("memory").queryName("slower_generic").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slower_generic").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toList
    // every window but the (still growable) last: events 0..8, +1s stamps
    val expected = (0 until 9).map(i => (1000L * i + 1000L, i.toDouble)).toList
    assert(got == expected)
  }

  test("non-prefix-monotone makers raise a directed error instead of diverging") {
    // windows depend on the stream REVERSED — re-application to a grown
    // prefix rewrites window 0, which was already emitted after batch 1
    val unsound = (s: List[Event[Any]]) => s.reverse.map(List(_))
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param("reversed", unsound: Any)), "Double", "[Double]", 1),
      StreamVertex(2, OpSink, Nil, "[Double]", "[Double]", 1)))
    val src = twoBatchSource(
      (0 until 4).map(i => (t(1000L * i), i.toDouble)),
      (4 until 8).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(2)
    val q = lowered.map(_.time.map(_.getTime).getOrElse(-1L)).toDF("x")
      .writeStream.format("memory").queryName("slower_unsound").outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination()
    }
    q.stop()
    def chain(x: Throwable): List[Throwable] =
      Option(x).map(y => y :: chain(y.getCause)).getOrElse(Nil)
    val msg = chain(err).map(_.getMessage).mkString("\n")
    assert(msg.contains("not prefix-monotone"), s"got: $msg")
  }

  test("BoundedLookback maker lowers with eviction and matches the closed-window contract") {
    // the reference's tripTimes idiom (Taxi.hs:400-402): one singleton
    // window per event, re-stamped — lookback 1. Routed through lower()
    // so the dispatch (BoundedLookback before plain Function1) is what's
    // under test, across a micro-batch boundary so eviction really runs.
    val restamp = (s: List[Event[Any]]) => s.map { e =>
      List(Event(e.time.map(ts => new java.sql.Timestamp(ts.getTime + 1000L)), e.value))
    }
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow,
        List(Param("tripTimes", graft.core.BoundedLookback(1)(restamp): Any)),
        "Double", "[Double]", 1),
      StreamVertex(2, OpSink, Nil, "[Double]", "[Double]", 1)))
    val src = twoBatchSource(
      (0 until 4).map(i => (t(1000L * i), i.toDouble)),
      (4 until 8).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(2)
    val q = lowered.map(e => (e.time.get.getTime,
        e.value.get.asInstanceOf[List[Any]].head.asInstanceOf[Double]))
      .toDF("ts", "v")
      .writeStream.format("memory").queryName("slower_bl").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slower_bl").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toList.sorted
    // every window but the still-pending last closes: events 0..6,
    // re-stamped +1000ms
    assert(got == (0 until 7).map(i => (1000L * i + 1000L, i.toDouble)).toList)
  }

  test("BoundedLookback eviction handles windows spanning multiple events") {
    // chop-2-shaped custom maker, declared lookback 2: the open (possibly
    // partial) pair must survive eviction; closed pairs must not re-emit
    // after it.
    val pairs = (s: List[Event[Any]]) => s.grouped(2).toList
    val src = twoBatchSource(
      (0 until 3).map(i => (t(1000L * i), i.toDouble)),
      (3 until 7).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.boundedWindowLower(
      src.asInstanceOf[Dataset[Event[Any]]], pairs, maxEvents = 2)
    val q = lowered.map(e => (e.time.get.getTime,
        e.value.get.asInstanceOf[List[Any]].map(_.asInstanceOf[Double]).mkString(",")))
      .toDF("ts", "w")
      .writeStream.format("memory").queryName("slower_bl_pairs").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slower_bl_pairs").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList.sorted
    // 7 events -> pairs [0,1][2,3][4,5], open [6] pending: batch 1 closes
    // [0,1] (open [2] retained), batch 2 regrows [2,3] then [4,5]
    assert(got == List((0L, "0.0,1.0"), (2000L, "2.0,3.0"), (4000L, "4.0,5.0")))
  }

  test("a lying BoundedLookback declaration gets a directed error at first eviction") {
    // declared lookback 1, but each window's stamp depends on the COUNT
    // of all events seen — i.e. on evicted events. Re-applying the maker
    // to the retained suffix cannot reproduce the open window.
    val lying = (s: List[Event[Any]]) => s.zipWithIndex.map { case (e, i) =>
      List(Event(Some(new java.sql.Timestamp(100000L + 1000L * i)), e.value))
    }
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow,
        List(Param("liar", graft.core.BoundedLookback(1)(lying): Any)),
        "Double", "[Double]", 1),
      StreamVertex(2, OpSink, Nil, "[Double]", "[Double]", 1)))
    val src = twoBatchSource(
      (0 until 4).map(i => (t(1000L * i), i.toDouble)),
      (4 until 8).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(2)
    val q = lowered.map(_.time.map(_.getTime).getOrElse(-1L)).toDF("x")
      .writeStream.format("memory").queryName("slower_bl_liar").outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination()
    }
    q.stop()
    def chain(x: Throwable): List[Throwable] =
      Option(x).map(y => y :: chain(y.getCause)).getOrElse(Nil)
    val msg = chain(err).map(_.getMessage).mkString("\n")
    assert(msg.contains("BoundedLookback(maxEvents=1) declaration is false"), s"got: $msg")
  }

  test("randomized bounded makers agree with batch closed-window semantics across random batch splits") {
    // property: for ANY honest bounded-lookback maker, the streaming
    // lowering emits exactly the batch maker's CLOSED windows (all but
    // the trailing open one), regardless of how the stream is cut into
    // micro-batches. Maker family spans the suffix-shaped common case
    // (restamp/chop/sliding — the candidate-first eviction path) at
    // several lookbacks.
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(24)
      val events = (0 until n).map(i => (t(1000L * i), rnd.nextInt(100).toDouble))
      // 2..4 random non-empty time-contiguous batches
      val cuts = Seq.fill(1 + rnd.nextInt(3))(1 + rnd.nextInt(n - 1)).distinct.sorted
      val batches = (0 +: cuts :+ n).sliding(2).map { case Seq(a, b) => events.slice(a, b) }
        .filter(_.nonEmpty).toSeq
      val (maker, maxEvents, label) = rnd.nextInt(3) match {
        case 0 =>
          ((s: List[Event[Any]]) => s.map(e =>
            List(Event(e.time.map(x => new java.sql.Timestamp(x.getTime + 500L)), e.value))),
            1, "restamp")
        case 1 =>
          val k = 2 + rnd.nextInt(3)
          ((s: List[Event[Any]]) => s.grouped(k).toList, k, s"chop$k")
        case _ =>
          val k = 2 + rnd.nextInt(2)
          // sliding-k emits a window per position once k events exist;
          // the last window (possibly short at the very start) is open
          ((s: List[Event[Any]]) => if (s.isEmpty) Nil
            else if (s.length < k) List(s) else s.sliding(k).toList, k, s"sliding$k")
      }
      val evs = events.map { case (ts, v) => Event[Any](Some(ts), Some(v: Any)) }.toList
      val expected = {
        val ws = maker(evs)
        (if (ws.isEmpty) Nil else ws.init).map(w =>
          (w.head.time.get.getTime, w.flatMap(_.value).map(_.asInstanceOf[Double]).mkString(",")))
          .sorted
      }
      val lowered = StreamingLowering.boundedWindowLower(
        nBatchSource(batches).asInstanceOf[Dataset[Event[Any]]], maker, maxEvents)
      val qn = s"slower_bl_prop_$seed"
      val q = lowered.map(e => (e.time.get.getTime,
          e.value.get.asInstanceOf[List[Any]].map(_.asInstanceOf[Double]).mkString(",")))
        .toDF("ts", "w")
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getString(1))).toList.sorted
      assert(got == expected,
        s"seed=$seed maker=$label n=$n batches=${batches.map(_.size).mkString("/")}: " +
          s"got $got, expected $expected")
    }
  }

  test("slidingTime carried bound survives end regression from cross-batch late data") {
    // Batch 2 opens with an event EARLIER than the carried state (late
    // data across micro-batches): the combined carried++batch array is
    // non-monotone, so when the late event's window closes its end
    // (500+2000=2500) REGRESSES below the previous window's (103000).
    // The carried scan bound must restart at the window head, or the
    // emitted window would include events at/after its end (here 5000).
    // The contract is first-stop: a window is the pending prefix before
    // the first event at/after its end. String payloads take the step's
    // default list emit, Double payloads the same loop with the primitive
    // mirror filled; both must give exactly that.
    def windows(tag: String, toPayload: Double => Any,
                fromPayload: Any => Double): List[(Long, String)] = {
      val raw = twoBatchSource(
        Seq(0L, 1000L, 2000L, 100000L, 101000L).map(ms => (t(ms), ms / 1000.0)),
        Seq(500L, 5000L, 103000L).map(ms => (t(ms), ms / 1000.0)))
      val src: Dataset[Event[Any]] = raw.map(e => Event(e.time,
        e.value.map(v => toPayload(v.asInstanceOf[Double]))))(Encoders.kryo[Event[Any]])
      val g = StreamGraph.path(Seq(
        StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
        StreamVertex(1, OpWindow, List(Param("slidingTime 2000", null)), "Double", "[Double]", 1),
        StreamVertex(2, OpSink, Nil, "[Double]", "[Double]", 1)))
      val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(2)
      val qn = s"slower_latereg_$tag"
      val q = lowered.map(e => (e.time.get.getTime,
          e.value.get.asInstanceOf[List[Any]].map(fromPayload).mkString(",")))
        .toDF("ts", "w")
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      q.processAllAvailable(); q.stop()
      spark.table(qn).collect().map(r => (r.getLong(0), r.getString(1))).toList.sorted
    }
    // window = prefix of the pending queue with time < head.time+ms (the
    // queue is arrival-ordered, not time-ordered, under late data)
    val expected = List(
      (0L, "0.0,1.0"), (1000L, "1.0,2.0"), (2000L, "2.0"),
      (500L, "0.5"), (5000L, "5.0"),
      (100000L, "100.0,101.0,0.5,5.0"), (101000L, "101.0,0.5,5.0")).sorted
    val strings = windows("fb", v => v.toString: Any,
      v => v.asInstanceOf[String].toDouble)
    assert(strings == expected, s"first-stop contract, String payloads: $strings")
    val doubles = windows("fast", identity, _.asInstanceOf[Double])
    assert(doubles == expected, s"carried bound diverged under regression: $doubles")
  }

  test("generic window fallback bounds its buffered prefix") {
    val anyMaker = (s: List[Event[Any]]) => List(s)
    val src = twoBatchSource(
      (0 until 8).map(i => (t(1000L * i), i.toDouble)),
      (8 until 16).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.genericWindowLower(src, anyMaker, maxBuffer = 10)
    val q = lowered.map(_.time.map(_.getTime).getOrElse(-1L)).toDF("x")
      .writeStream.format("memory").queryName("slower_gw_guard").outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination()
    }
    q.stop()
    def chain(x: Throwable): List[Throwable] =
      Option(x).map(y => y :: chain(y.getCause)).getOrElse(Nil)
    val msg = chain(err).map(_.getMessage).mkString("\n")
    assert(msg.contains("exceeded maxBuffer=10"), s"got: $msg")
  }

  test("window-chain fusion emits the fused aggregate across batch boundaries") {
    // slidingTime 2000ms over 1000ms-spaced events: window i = {e_i,
    // e_i+1}, closed by e_i+2's arrival — the last two windows stay
    // pending. The nonEmpty->countAndSum chain is absorbed into the
    // window state machine (and slidingTime takes the allocation-free
    // fold), so the sink sees (n, sum) pairs, never window contents.
    val countAndSum = (v: Any) => {
      val vs = v.asInstanceOf[List[Any]]
      var n = 0L; var sum = 0.0
      vs.foreach { x => n += 1; sum += x.asInstanceOf[Double] }
      (n, sum): Any
    }
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param("slidingTime 2000", null)), "Double", "[Double]", 1),
      StreamVertex(2, OpFilter(0.99), List(Param("nonEmpty",
        (v: Any) => v.asInstanceOf[List[Any]].nonEmpty)), "[Double]", "[Double]", 1),
      StreamVertex(3, OpMap, List(Param("countAndSum", countAndSum)), "[Double]", "(Long,Double)", 1),
      StreamVertex(4, OpSink, Nil, "(Long,Double)", "(Long,Double)", 1)))
    val src = twoBatchSource(
      (0 until 3).map(i => (t(1000L * i), i.toDouble)),
      (3 until 6).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(4)
    val q = lowered.map { e =>
      val (n, s) = e.value.get.asInstanceOf[(Long, Double)]
      (e.time.map(_.getTime).getOrElse(-1L), n, s)
    }.toDF("ms", "n", "sum")
      .writeStream.format("memory").queryName("slower_fused").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slower_fused").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toList == List(
      (0L, 2L, 1.0), (1000L, 2L, 3.0), (2000L, 2L, 5.0), (3000L, 2L, 7.0)))
  }

  test("fused countAndSum fast path self-checks against the real closure") {
    // a Param NAMED countAndSum whose closure computes something else:
    // the fused fold must detect the disagreement and fail loudly, not
    // silently emit its own arithmetic
    val lyingParam = (v: Any) => {
      val vs = v.asInstanceOf[List[Any]]
      (vs.length.toLong, vs.map(_.asInstanceOf[Double]).sum * 2): Any
    }
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param("slidingTime 2000", null)), "Double", "[Double]", 1),
      StreamVertex(2, OpFilter(0.99), List(Param("nonEmpty",
        (v: Any) => v.asInstanceOf[List[Any]].nonEmpty)), "[Double]", "[Double]", 1),
      StreamVertex(3, OpMap, List(Param("countAndSum", lyingParam)), "[Double]", "(Long,Double)", 1),
      StreamVertex(4, OpSink, Nil, "(Long,Double)", "(Long,Double)", 1)))
    val src = twoBatchSource(
      (0 until 3).map(i => (t(1000L * i), i.toDouble)),
      (3 until 6).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(4)
    val q = lowered.map(_.time.map(_.getTime).getOrElse(-1L)).toDF("x")
      .writeStream.format("memory").queryName("slower_lying").outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination()
    }
    q.stop()
    def chain(x: Throwable): List[Throwable] =
      Option(x).map(y => y :: chain(y.getCause)).getOrElse(Nil)
    val msg = chain(err).map(_.getMessage).mkString("\n")
    assert(msg.contains("fused 'countAndSum' fold disagrees"), s"got: $msg")
  }

  test("fan-out after a window blocks fusion: a second consumer sees contents") {
    // Window -> Map(countAndSum) with a SECOND edge Window -> Sink2: the
    // Map must NOT be absorbed (Sink2 needs the unfused window contents)
    val countAndSum = (v: Any) => {
      val vs = v.asInstanceOf[List[Any]]
      (vs.length.toLong, vs.map(_.asInstanceOf[Double]).sum): Any
    }
    val vs = Vector(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param("chop 2", null)), "Double", "[Double]", 1),
      StreamVertex(2, OpMap, List(Param("countAndSum", countAndSum)), "[Double]", "(Long,Double)", 1),
      StreamVertex(3, OpSink, Nil, "(Long,Double)", "(Long,Double)", 1),
      StreamVertex(4, OpSink, Nil, "[Double]", "[Double]", 1))
    val g = StreamGraph(vs, Vector((0, 1), (1, 2), (2, 3), (1, 4)))
    val src = twoBatchSource(
      (0 until 2).map(i => (t(1000L * i), i.toDouble)),
      (2 until 4).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))
    val q1 = lowered(3).map { e =>
      val (n, s) = e.value.get.asInstanceOf[(Long, Double)]; (n, s)
    }.toDF("n", "sum")
      .writeStream.format("memory").queryName("slower_fan_agg").outputMode("append").start()
    val q2 = lowered(4).map(_.value.get.asInstanceOf[List[Any]].length)
      .toDF("len")
      .writeStream.format("memory").queryName("slower_fan_raw").outputMode("append").start()
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    val agg = spark.table("slower_fan_agg").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val raw = spark.table("slower_fan_raw").collect().map(_.getInt(0)).toList
    assert(agg == Set((2L, 1.0), (2L, 5.0)))
    assert(raw == List(2, 2))
  }

  test("`complete` lowers via the fallback and faithfully never emits") {
    // complete = one window spanning the whole (unbounded) stream — it
    // never closes, so the lowering emits nothing rather than throwing
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param("complete",
        (s: List[Event[Any]]) => graft.core.WindowMakers.complete[Any](s))), "Double", "[Double]", 1),
      StreamVertex(2, OpSink, Nil, "[Double]", "[Double]", 1)))
    val src = twoBatchSource(
      (0 until 3).map(i => (t(1000L * i), i.toDouble)),
      (3 until 6).map(i => (t(1000L * i), i.toDouble)))
    val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))(2)
    val q = lowered.map(_.time.map(_.getTime).getOrElse(-1L)).toDF("x")
      .writeStream.format("memory").queryName("slower_complete").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("slower_complete").count() == 0)
  }

  // One recheck body, run for two recognized aggregates. Each closure
  // agrees with its fold on every window EXCEPT ones whose first payload
  // is the marker -1.0: the first-window check passes, a divergent window
  // BETWEEN rechecks slips through (the documented residual), and a
  // divergent window landing ON a recheck is caught — bounding silent
  // divergence to one recheck period.
  private val recheckMarker = -1.0

  private def assertPeriodicRecheck(name: String, lying: Any => Any, onMarker: Any): Unit = {
    val marker = recheckMarker
    val chain = List(
      StreamVertex(2, OpFilter(0.99), List(Param("nonEmpty",
        (v: Any) => v.asInstanceOf[List[Any]].nonEmpty)), "[Double]", "[Double]", 1),
      StreamVertex(3, OpMap, List(Param(name, lying)), "[Double]", "x", 1))
    val emitter = StreamingLowering.chainEmit(chain)
    def window(vs: Double*): Option[Event[Any]] = {
      val evs: Array[Event[Any]] =
        vs.zipWithIndex.map { case (v, i) => Event.data(1000L * i, v: Any) }.toArray
      emitter.fromRange(evs, evs.map(_.isData), vs.toArray, 0, evs.length)
    }
    // call 1: honest — the first-window recheck passes
    assert(window(1.0, 2.0).isDefined, name)
    // call 2: divergent but between rechecks — the fold's own (correct)
    // arithmetic is emitted; no error (the documented residual)
    assert(window(marker).exists(_.value.contains(onMarker)), name)
    // calls 3..recheckEvery: honest folds, draining the recheck counter
    // (call 1's recheck armed it at N-1; the marker call spent one)
    (0L until (StreamingLowering.FusedFoldRecheckEvery - 2)).foreach { _ =>
      assert(window(3.0).isDefined, name)
    }
    // next call lands on the periodic recheck: divergence now detected
    val err = intercept[IllegalStateException] {
      window(marker)
    }
    assert(err.getMessage.contains(s"fused '$name' fold disagrees"), err.getMessage)
  }

  test("fused fold re-verifies periodically, catching input-dependent divergence") {
    val countAndSum = (v: Any) => {
      val vs = v.asInstanceOf[List[Any]].map(_.asInstanceOf[Double])
      var n = 0L; var sum = 0.0
      vs.foreach { x => n += 1; sum += x }
      if (vs.headOption.contains(recheckMarker)) (n, sum * 2): Any else (n, sum): Any
    }
    assertPeriodicRecheck("countAndSum", countAndSum, (1L, recheckMarker): Any)
  }

  test("a lying recognized fold closure is caught by the fromRange periodic recheck") {
    val max = (v: Any) => {
      val vs = v.asInstanceOf[List[Any]].map(_.asInstanceOf[Double])
      if (vs.headOption.contains(recheckMarker)) vs.max * 2: Any else vs.max: Any
    }
    assertPeriodicRecheck("max", max, recheckMarker: Any)
  }

  test("generalized fold algebra matches the canonical closures on every recognized name") {
    // canonical closures per the chainEmit name contract; each emitter is
    // driven through fromRange and must agree with the materialized chain
    // bit-for-bit
    val canon: Map[String, Any => Any] = Map(
      "count" -> ((v: Any) => v.asInstanceOf[List[Any]].length.toLong: Any),
      "sum" -> ((v: Any) => v.asInstanceOf[List[Any]]
        .foldLeft(0.0)(_ + _.asInstanceOf[Double]): Any),
      "min" -> ((v: Any) => v.asInstanceOf[List[Any]]
        .foldLeft(Double.PositiveInfinity)((a, x) => math.min(a, x.asInstanceOf[Double])): Any),
      "max" -> ((v: Any) => v.asInstanceOf[List[Any]]
        .foldLeft(Double.NegativeInfinity)((a, x) => math.max(a, x.asInstanceOf[Double])): Any),
      "first" -> ((v: Any) => v.asInstanceOf[List[Any]].head.asInstanceOf[Double]: Any),
      "last" -> ((v: Any) => v.asInstanceOf[List[Any]].last.asInstanceOf[Double]: Any),
      "stats" -> ((v: Any) => {
        val vs = v.asInstanceOf[List[Any]]
        var n = 0L; var s = 0.0
        var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
        vs.foreach { x =>
          val d = x.asInstanceOf[Double]
          n += 1; s += d; mn = math.min(mn, d); mx = math.max(mx, d)
        }
        (n, s, mn, mx): Any
      }))
    val windows: List[List[Event[Any]]] = List(
      List(Event.data(1000L, 3.5: Any), Event.data(2000L, -1.25: Any),
        Event.data(3000L, 7.0: Any)),
      List(Event.tick[Any](500L), Event.data(1500L, 2.5: Any)), // tick stamps, one datum
      List(Event.data(9000L, 0.1: Any)),
      List(Event.tick[Any](4000L))) // no data: nonEmpty drops it -> None
    for ((name, f) <- canon) {
      val chain = List(
        StreamVertex(2, OpFilter(0.99), List(Param("nonEmpty",
          (v: Any) => v.asInstanceOf[List[Any]].nonEmpty)), "[Double]", "[Double]", 1),
        StreamVertex(3, OpMap, List(Param(name, f)), "[Double]", "x", 1))
      val em = StreamingLowering.chainEmit(chain)
      assert(em.isInstanceOf[StreamingLowering.FoldEmitter], s"$name not recognized")
      for (w <- windows) {
        val expected = em(w) // materialized chain = ground truth
        val evs = w.toArray
        val isData = evs.map(_.isData)
        val vals = evs.map(e =>
          if (e.isData) e.value.get.asInstanceOf[Double] else 0.0)
        assert(em.fromRange(evs, isData, vals, 0, evs.length) == expected,
          s"$name fromRange on $w")
      }
    }
  }
}
