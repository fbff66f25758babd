package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.core.Event

/** Streaming semantics: replay the sf0.001 events parquet as a file stream
  * and check the streaming formulations agree with their batch
  * equivalents (the parity surface). */
class StreamingOpsSpec extends SparkSuite {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def eventsBatch = graft.queries.Tables.events(spark, sfDir)

  /** The events table replayed as a stream (re-written copy so the
    * streaming reader sees a plain microsecond-timestamp schema). */
  private lazy val replayDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    eventsBatch.write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling window counts match batch groupBy(window)") {
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(replayDir)
    val agg = StreamingOps.tumblingAgg(stream, "ts", "1 hour", "10 minutes",
      Seq(col("event_type")), Seq(count(lit(1)).as("n")))
    val q = StreamingOps.memorySink(agg, "tumbling_test", mode = "complete")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tumbling_test")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val expected = eventsBatch
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("update-mode tumbling agg emits per-batch updates, evicts closed state, drops too-late rows") {
    // The production configuration claimed for the finite-replay complete-
    // mode queries: update mode + a real watermark. Two controlled
    // micro-batches (file source picks up each append as its own batch):
    //   batch 1: rows in hour-0 and hour-2 → watermark advances to
    //            02:00 - 10min = 01:50, past hour-0's window end (01:00)
    //   batch 2: a too-late hour-0 row (00:20 < watermark) must be DROPPED
    //            and hour-0's state evicted; an on-time hour-2 row must
    //            re-emit hour-2 with the updated count
    val dir = Files.createTempDirectory("graft-update").toString
    def write(rows: (java.sql.Timestamp, String, Double)*): Unit =
      rows.toDF("ts", "event_type", "value").write.mode("append").parquet(dir)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    write((ts("2024-01-01 00:10:00"), "click", 1.0), (ts("2024-01-01 02:00:00"), "click", 1.0))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val agg = StreamingOps.tumblingAgg(stream, "ts", "1 hour", "10 minutes",
      Seq(col("event_type")), Seq(count(lit(1)).as("n")))
    val q = agg.select(col("window.start").as("ws"), col("n"))
      .writeStream.format("memory").queryName("upd_test").outputMode("update").start()
    q.processAllAvailable()
    write((ts("2024-01-01 00:20:00"), "click", 1.0), (ts("2024-01-01 02:05:00"), "click", 1.0))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val got = spark.table("upd_test").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toList
    // batch 1 emitted both hours at 1; batch 2 re-emitted ONLY hour 2 at 2
    assert(got.sorted == List(
      (ts("2024-01-01 00:00:00").getTime, 1L), (ts("2024-01-01 02:00:00").getTime, 1L),
      (ts("2024-01-01 02:00:00").getTime, 2L)).sorted)
    // the too-late hour-0 row never surfaced as an update
    assert(!got.contains((ts("2024-01-01 00:00:00").getTime, 2L)))
    // and hour-0's window state was evicted: only hour-2 remains stateful
    assert(stateRows == 1L, s"expected 1 surviving state row, got $stateRows")
  }

  test("streaming scanByKey (flatMapGroupsWithState) matches batch per-key totals") {
    val stream = spark.readStream
      .schema(eventsBatch.schema).parquet(replayDir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .map { case (u, ts, v) => (u, Event(Some(ts), Some(v))) }
    val scanned = StreamingOps.scanByKey[Long, Double, Double](stream, _ + _, 0.0)
    // the operator's events are kryo-encoded: unpack each running sum
    val q = scanned.flatMap { case (u, e) => e.value.map(v => (u, v)) }
      .toDF("user_id", "acc").writeStream.format("memory")
      .queryName("scan_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // values are positive, so the max running sum per key = the key's total
    val got = spark.table("scan_test")
      .groupBy(col("user_id"))
      .agg(round(max(col("acc")), 2).as("total"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val expected = eventsBatch
      .groupBy(col("user_id"))
      .agg(round(sum(col("value")), 2).as("total"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == expected)
  }

  test("full wearable pipeline runs streaming end-to-end and matches the batch composite") {
    // map(norm) → filter → stateful falling-edge per user → tumbling count:
    // the flagship composite (WearableExample.hs:66-96) on the streaming
    // surface. The subset is deduped to one event per (user_id, ts): the
    // micro-batch fold orders by time only, while the batch formulation
    // tiebreaks on event_id — unique timestamps make both orders identical.
    val subset = eventsBatch
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("ts")).orderBy(col("event_id"))))
      .filter(col("rn") === 1).drop("rn")
    val subsetDir = Files.createTempDirectory("graft-wear").toString
    subset.write.mode("overwrite").parquet(subsetDir)

    val signal = spark.readStream.schema(subset.schema).parquet(subsetDir)
      .filter(col("event_type") =!= "error")
      .withColumn("norm", graft.operators.Relational.roundp(
        sqrt(col("value") * col("value") + 1), 4))
      .select(col("user_id"), col("ts"), col("norm"))
      .as[(Long, java.sql.Timestamp, Double)]
      .map { case (u, ts, v) => (u, Event(Some(ts), Some(v))) }
    val edges = StreamingOps.filterAccByKey[Long, Double, Option[Double]](
      signal, (_, v) => Some(v), None, (v, acc) => acc.exists(_ > 50.0) && v <= 50.0)
    val steps = StreamingOps.tumblingAgg(
      edges.map { case (_, e) => e.time.get }.toDF("ts"),
      "ts", "1 hour", "10 minutes", Nil, Seq(count(lit(1)).as("n_steps")))
    val q = StreamingOps.memorySink(steps, "wearable_stream", mode = "complete")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wearable_stream")
      .select(col("window.start"), col("n_steps"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet

    val sigB = subset.filter(col("event_type") =!= "error")
      .withColumn("norm", graft.operators.Relational.roundp(
        sqrt(col("value") * col("value") + 1), 4))
    val edgesB = graft.operators.Relational.fallingEdge(
      sigB, col("norm"), 50.0, Seq(col("user_id")), Seq(col("ts"), col("event_id")))
    val expected = edgesB.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_steps"))
      .select(col("window.start"), col("n_steps"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("streaming session windows match the batch session_window aggregate") {
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(replayDir)
    val agg = StreamingOps.sessionAgg(stream, "ts", "10 minutes", "10 minutes",
      Seq(col("user_id")), Seq(count(lit(1)).as("n")))
    val q = StreamingOps.memorySink(agg, "session_test", mode = "complete")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("session_test")
      .select(col("session_window.start").as("ws"), col("user_id"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val expected = eventsBatch
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start"), col("user_id"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("stream-static enrichment broadcasts the dimension, never shuffles the stream") {
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(replayDir)
    val dim = Seq(("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 5))
      .toDF("event_type", "type_code")
    val enriched = StreamingOps.staticEnrich(stream, dim, "event_type")
      .groupBy(col("type_code")).agg(count(lit(1)).as("n"))
    val q = StreamingOps.memorySink(enriched, "enrich_test", mode = "complete")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_test")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val expected = eventsBatch.join(dim, Seq("event_type"))
      .groupBy(col("type_code")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == expected)
    // batch twin of the same helper: broadcast hash join, no stream-side exchange
    val batchPlan = StreamingOps.staticEnrich(eventsBatch, dim, "event_type")
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"), batchPlan)
    assert(!batchPlan.contains("SortMergeJoin"))
  }

  test("streaming dedupe keeps one row per key within the watermark horizon") {
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(replayDir)
    // dedupe on (user_id, event_type): all events fit inside one generous
    // watermark horizon on a finite replay, so this matches batch distinct
    val deduped = StreamingOps.dedupeStream(stream, "ts", "48 hours",
      Seq("user_id", "event_type"))
    val q = StreamingOps.memorySink(deduped, "sdedup_test")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sdedup_test")
      .select("user_id", "event_type").distinct().count()
    val gotRows = spark.table("sdedup_test").count()
    val expected = eventsBatch.select("user_id", "event_type").distinct().count()
    assert(gotRows == expected) // exactly one survivor per key
    assert(got == expected)
  }

  test("chopByKey/slidingByKey n=1: every data event its own window; require on n=0") {
    val keyed = spark.readStream
      .schema(eventsBatch.schema).parquet(replayDir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .map { case (u, ts, v) => (u, Event(Some(ts), Some(v))) }
    val nRows = eventsBatch.count()
    for ((name, windows) <- Seq(
        "chop1_test" -> StreamingOps.chopByKey[Long, Double](keyed, 1),
        "slide1_test" -> StreamingOps.slidingByKey[Long, Double](keyed, 1))) {
      val q = windows.toDF().writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      assert(spark.table(name).count() == nRows,
        s"$name: n=1 must emit one singleton window per data event")
    }
    intercept[IllegalArgumentException] { StreamingOps.chopByKey[Long, Double](keyed, 0) }
    intercept[IllegalArgumentException] { StreamingOps.slidingByKey[Long, Double](keyed, 0) }
  }

  test("idleTimeoutMs evicts an idle key's state; the key restarts from init on return") {
    // Drives the ProcessingTimeTimeout path across three micro-batches. Each
    // batch is its own Trigger.Once run over a SHARED checkpoint: a query
    // with registered processing-time timeouts keeps constructing no-data
    // timeout batches forever, so neither processAllAvailable nor an
    // AvailableNow run ever terminates — one-batch restarts make each
    // micro-batch deterministic instead:
    //   run 1: key 1 folds 10.0 (state = 10.0, 100ms idle timeout armed,
    //          persisted in the checkpoint)
    //   run 2 (after a generous sleep): key 2 arrives — key 1 has idled past
    //          its timeout, so its hasTimedOut branch runs and REMOVES the
    //          state, emitting nothing
    //   run 3: key 1 reappears — with its state evicted it restarts from
    //          init (accumulator 5.0, NOT 15.0)
    val dir = Files.createTempDirectory("graft-evict").toString
    val ckpt = Files.createTempDirectory("graft-evict-ckpt").toString
    val res = Files.createTempDirectory("graft-evict-out").toString
    def write(rows: (Long, java.sql.Timestamp, Double)*): Unit =
      rows.toDF("user_id", "ts", "value").write.mode("append").parquet(dir)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    write((1L, ts(1000), 10.0))
    val schema = spark.read.parquet(dir).schema
    def runOnce(): Unit = {
      val keyed = spark.readStream.schema(schema).parquet(dir)
        .as[(Long, java.sql.Timestamp, Double)]
        .map { case (u, t, v) => (u, Event(Some(t), Some(v))) }
      val q = StreamingOps.scanByKey[Long, Double, Double](
          keyed, _ + _, 0.0, idleTimeoutMs = Some(100L))
        .flatMap { case (u, e) => e.value.map(v => (u, v)) }
        .toDF("user_id", "acc")
        .writeStream.outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(res)
        }
        .start()
      q.awaitTermination()
    }
    runOnce()
    Thread.sleep(500) // let key 1's 100ms idle timeout expire on the wall clock
    write((2L, ts(2000), 1.0))
    runOnce() // key 1 times out in this run's batch (eviction emits nothing)
    write((1L, ts(3000), 5.0))
    runOnce()
    val got = spark.read.parquet(res).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toList.sorted
    assert(got == List((1L, 5.0), (1L, 10.0), (2L, 1.0)),
      s"expected key 1 to restart from init after eviction, got: $got")
  }

  test("attributeByKey idle timeout evicts the carried channel; post-eviction purchases are 'direct'") {
    // Same Trigger.Once-over-shared-checkpoint choreography as the scanByKey
    // eviction test above: run 1 carries user 1's 'view' touch into the
    // checkpoint; run 2 (after the wall clock passes the idle timeout) lets
    // the hasTimedOut branch REMOVE it; run 3's purchase must then fall back
    // to the default channel instead of the stale touch.
    val dir = Files.createTempDirectory("graft-attr-evict").toString
    val ckpt = Files.createTempDirectory("graft-attr-evict-ckpt").toString
    val res = Files.createTempDirectory("graft-attr-evict-out").toString
    def write(rows: (Long, java.sql.Timestamp, Long, String, Long)*): Unit =
      rows.toDF("user_id", "ts", "id", "ch", "cents").write.mode("append").parquet(dir)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    write((1L, ts(1000), 1L, "view", 0L), (1L, ts(1500), 2L, "purchase", 100L))
    val schema = spark.read.parquet(dir).schema
    def runOnce(): Unit = {
      import org.apache.spark.sql.Encoders
      val keyed = spark.readStream.schema(schema).parquet(dir)
        .as[(Long, java.sql.Timestamp, Long, String, Long)]
        .map { case (u, t, id, ch, c) => (u, Event(Some(t), Some((id, ch, c)))) }(
          Encoders.tuple(Encoders.scalaLong, Encoders.kryo[Event[(Long, String, Long)]]))
      val q = StreamingOps.attributeByKey[Long](keyed,
          creditType = "purchase", defaultChannel = "direct",
          idleTimeoutMs = Some(100L))
        .toDF("user_id", "id", "channel", "cents")
        .writeStream.outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(res)
        }
        .start()
      q.awaitTermination()
    }
    runOnce()
    Thread.sleep(500) // user 1's 100ms idle timeout expires on the wall clock
    write((2L, ts(2000), 3L, "error", 0L))
    runOnce() // user 1's carried 'view' is evicted in this batch
    write((1L, ts(3000), 4L, "purchase", 200L))
    runOnce()
    val got = spark.read.parquet(res).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList.sorted
    assert(got == List((1L, 2L, "view"), (1L, 4L, "direct")),
      s"expected the evicted touch to fall back to 'direct', got: $got")
  }

  test("slidingTimeByKey: 10k-event single-key dense burst closes every window correctly") {
    // The scale-regression pin for the incremental (index-advancing) close:
    // one hot key, 10k events 1ms apart, 100ms windows, all in ONE
    // micro-batch — 9.9k closing windows of 100 events each. The close is
    // O(total emitted output); the old per-close queue rescan made dense
    // same-key bursts quadratic.
    val n = 10000
    val dir = Files.createTempDirectory("graft-burst").toString
    (0 until n).map(i => (1L, new java.sql.Timestamp(i.toLong), i.toDouble))
      .toDF("user_id", "ts", "value").coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val keyed = spark.readStream.schema(schema).parquet(dir)
      .as[(Long, java.sql.Timestamp, Double)]
      .map { case (u, t, v) => (u, Event(Some(t), Some(v))) }
    val t0 = System.nanoTime()
    val windowed = StreamingOps.slidingTimeByKey[Long, Double](keyed, ms = 100L)
    val q = windowed
      .map { case (_, e) => (e.time.get, e.value.get.length.toLong, e.value.get.sum) }
      .toDF("anchor", "n", "sum")
      .writeStream.format("memory").queryName("burst_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val elapsed = (System.nanoTime() - t0) / 1e9
    val got = spark.table("burst_test").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // window anchored at i closes iff some event reaches i+100 → anchors 0..n-101;
    // each holds exactly events i..i+99: n=100, sum = 100i + 4950
    assert(got.length == n - 100)
    got.zipWithIndex.foreach { case ((anchor, cnt, sum), i) =>
      assert(anchor == i && cnt == 100L && sum == 100.0 * i + 4950.0,
        s"window $i: got ($anchor, $cnt, $sum)")
    }
    // linear-ish close: ~1M emitted elements must not take minutes (the
    // quadratic form degraded superlinearly with burst density)
    assert(elapsed < 90.0, s"dense-burst close took ${elapsed}s")
  }

  test("scanByKey state survives a query RESTART: checkpoint round-trip of kryo state") {
    // The gates exercise cross-batch state carry within ONE query run;
    // production also needs the accumulator to survive a STOP and a fresh
    // start() from the same checkpoint (deploys, crashes, rescheduling) —
    // i.e. the kryo-encoded per-key state must round-trip through the
    // state store's on-disk checkpoint, not just executor memory. Run 1
    // folds the first half of each key's events, run 2 (new query
    // instance, same checkpoint) folds the rest; if state did not survive
    // the restart, run 2 would restart accumulators from init and the
    // final per-key running sums would diverge from the batch totals.
    // A chopByKey over the same input holds an open window per key across
    // the restart, and must emit what one uninterrupted run emits.
    val dir = Files.createTempDirectory("graft-restart").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val res = Files.createTempDirectory("graft-restart-out").toString
    val chopCkpt = Files.createTempDirectory("graft-restart-chop-ckpt").toString
    val chopRes = Files.createTempDirectory("graft-restart-chop-out").toString
    def write(rows: (Long, java.sql.Timestamp, Double)*): Unit =
      rows.toDF("user_id", "ts", "value").write.mode("append").parquet(dir)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val firstHalf = (0 until 10).map(i => (i % 3.toLong, ts(i * 100L), (i + 1).toDouble))
    val secondHalf = (10 until 20).map(i => (i % 3.toLong, ts(i * 100L), (i + 1).toDouble))
    write(firstHalf: _*)
    val schema = spark.read.parquet(dir).schema
    def keyed = spark.readStream.schema(schema).parquet(dir)
      .as[(Long, java.sql.Timestamp, Double)]
      .map { case (u, t, v) => (u, Event(Some(t), Some(v))) }
    def sums = StreamingOps.scanByKey[Long, Double, Double](keyed, _ + _, 0.0)
      .flatMap { case (u, e) => e.value.map(v => (u, v)) }
      .toDF("user_id", "acc")
    // chop 4: at the stop keys 1 and 2 hold 3 events each and key 0 holds
    // none, so two windows are open across the restart
    def windows = StreamingOps.chopByKey[Long, Double](keyed, 4)
      .map { case (u, e) => (u, e.time.get.getTime, e.value.get.mkString(",")) }
      .toDF("user_id", "start_ms", "values")
    def runOnce(rows: DataFrame, checkpoint: String, out: String): Unit = {
      val q = rows.writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (b: Dataset[Row], _: Long) => b.write.mode("append").parquet(out) }
        .start()
      q.awaitTermination()
    }
    runOnce(sums, ckpt, res) // run 1: first half only
    runOnce(windows, chopCkpt, chopRes)
    write(secondHalf: _*)
    runOnce(sums, ckpt, res) // run 2: fresh query instance resumes from the checkpoint
    runOnce(windows, chopCkpt, chopRes)
    val out = spark.read.parquet(res).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.length == 20, "every event must emit exactly one running sum across both runs")
    val finalAcc = out.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expected = (firstHalf ++ secondHalf).groupBy(_._1)
      .view.mapValues(_.map(_._3).sum).toMap
    assert(finalAcc == expected,
      s"restart must resume accumulators from checkpointed state: got $finalAcc, want $expected")
    val uninterrupted = Files.createTempDirectory("graft-restart-chop-once").toString
    runOnce(windows, Files.createTempDirectory("graft-restart-chop-once-ckpt").toString,
      uninterrupted)
    def windowRows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(windowRows(uninterrupted).size == 3, windowRows(uninterrupted))
    assert(windowRows(chopRes) == windowRows(uninterrupted),
      "an open chop window must carry across the restart")
  }

  test("a null accumulator is stored as no state: a tick-only first batch, then data") {
    // q_streaming_changes_bykey's shape: filterAccByKey with a null init.
    // The key's first micro-batch holds only a value-less event, which
    // leaves the accumulator null; Spark rejects a null state value, so the
    // operator stores none and the next batch starts from init again.
    val dir = Files.createTempDirectory("graft-nullstate")
    val base = System.currentTimeMillis() - 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    Seq(Seq((1L, ts(1000), Option.empty[String])),
        Seq((1L, ts(2000), Some("a")), (1L, ts(3000), Some("a")), (1L, ts(4000), Some("b"))))
      .zipWithIndex.foreach { case (rows, i) =>
        val sub = Files.createTempDirectory("graft-nullstate-part")
        rows.toDF("user_id", "ts", "ch").coalesce(1).write.mode("overwrite").parquet(sub.toString)
        val part = scala.util.Using.resource(Files.list(sub)) {
          _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        }
        val target = dir.resolve(f"b$i%02d.parquet")
        Files.move(part, target)
        target.toFile.setLastModified(base + 10000L * i)
      }
    val keyed = spark.readStream.schema(spark.read.parquet(dir.toString).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .as[(Long, java.sql.Timestamp, Option[String])]
      .map { case (u, t, v) => (u, Event(Some(t), v)) }(StreamingOps.keyedEvents)
    val kept = StreamingOps.filterAccByKey[Long, String, String](
      keyed, (_, v) => v, null, (v, acc) => acc == null || acc != v)
    val q = kept.map { case (_, e) => (e.time.get.getTime, e.value) }.toDF("ms", "ch")
      .writeStream.format("memory").queryName("nullstate_test").outputMode("append").start()
    q.processAllAvailable()
    val batchesRun = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batchesRun == 2, s"expected 2 data micro-batches, got $batchesRun")
    val got = spark.table("nullstate_test").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toList.sorted
    assert(got == List((1000L, None), (2000L, Some("a")), (4000L, Some("b"))))
  }

  test("streaming filterAccByKey deduplicates consecutive values per key") {
    val stream = spark.readStream
      .schema(eventsBatch.schema).parquet(replayDir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .map { case (u, ts, t) => (u, Event(Some(ts), Some(t))) }
    val deduped = StreamingOps.filterAccByKey[Long, String, Option[String]](
      stream, (_, v) => Some(v), None, (v, acc) => !acc.contains(v))
    val q = deduped.toDF().writeStream.format("memory")
      .queryName("dedup_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_test").count()
    // batch equivalent: lag-based dedupConsecutive on event_type per user
    val expected = graft.operators.Relational.dedupConsecutive(
      eventsBatch, col("event_type"), Seq(col("user_id")), Seq(col("ts"), col("event_id"))).count()
    assert(got == expected)
  }

  test("attributeByKey: channel state carries ACROSS micro-batches, pre-touch " +
       "purchases get the default, consecutive purchases share one touch") {
    import org.apache.spark.sql.Encoders
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val dir = Files.createTempDirectory("graft-attr")
    val batches = Seq(
      Seq( // batch 0
        (1L, ts(10), 1L, "view", 0L),
        (1L, ts(11), 2L, "purchase", 100L), // → view (same batch)
        (2L, ts(10), 3L, "purchase", 200L)  // → direct (no touch yet)
      ),
      Seq( // batch 1 — purchase 4 must read user 1's view state from batch 0
        (1L, ts(12), 4L, "purchase", 300L), // → view (state carry)
        (1L, ts(13), 5L, "click", 0L),
        (2L, ts(11), 6L, "error", 0L)
      ),
      Seq( // batch 2 — credits from batch-1 touches; purchases don't
           // overwrite the carried channel
        (1L, ts(14), 7L, "purchase", 400L), // → click
        (2L, ts(12), 8L, "purchase", 500L), // → error
        (2L, ts(13), 9L, "purchase", 600L)  // consecutive → still error
      ))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val sub = Files.createTempDirectory("graft-attr-build")
      rows.toDF("user_id", "ts", "id", "ch", "cents")
        .coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val part = java.nio.file.Files.list(sub)
      val found = try part.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.findFirst().orElse(null) finally part.close()
      assert(found != null, s"no part file under $sub")
      val target = dir.resolve(f"batch-$i%02d.parquet")
      java.nio.file.Files.move(found, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600000L + i * 10000L))
    }
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[(Long, java.sql.Timestamp, Long, String, Long)]
      .map { case (u, t, id, ch, c) => (u, Event(Some(t), Some((id, ch, c)))) }(
        Encoders.tuple(Encoders.scalaLong, Encoders.kryo[Event[(Long, String, Long)]]))
    val credited = StreamingOps.attributeByKey[Long](stream,
      creditType = "purchase", defaultChannel = "direct")
    val q = credited.toDF("user_id", "id", "channel", "cents").writeStream
      .format("memory").queryName("attr_test").outputMode("append").start()
    q.processAllAvailable()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      s"expected 3 data micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    q.stop()
    val got = spark.table("attr_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 2L, "view", 100L), (2L, 3L, "direct", 200L),
      (1L, 4L, "view", 300L),
      (1L, 7L, "click", 400L), (2L, 8L, "error", 500L), (2L, 9L, "error", 600L)))
  }

  test("asofEnrichByKey: equal-ts right wins, state carries ACROSS micro-batches, " +
       "no-right lefts get None, out-of-order arrivals don't violate at-or-before") {
    import org.apache.spark.sql.Encoders
    // payload: (isRight, id); constructed ties exercise the rights-before-
    // lefts ordering the batch asofJoin's __side column encodes
    type P = (Boolean, Long)
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val dir = Files.createTempDirectory("graft-asof")
    // one parquet FILE per micro-batch (maxFilesPerTrigger=1, mtimes strictly
    // increasing) so cross-batch state carry is genuinely exercised: batch 1's
    // purchase 21 must read click-10 state written by batch 0, and batch 2's
    // out-of-order rows must hit batch-0/1 state, not same-batch ordering.
    val batches = Seq(
      Seq( // batch 0
        (1L, ts(10), true, 10L),  // user 1: click at :10...
        (1L, ts(10), false, 20L), // ...purchase at the SAME ts → sees click 10
        (3L, ts(20), true, 50L)   // user 3: click at :20
      ),
      Seq( // batch 1 — purchase 21 enriched from STATE, not same-batch fold
        (1L, ts(11), false, 21L), // later purchase → still click 10
        (1L, ts(12), true, 11L),  // newer click...
        (1L, ts(13), false, 22L), // ...purchase → click 11 (latest wins)
        (2L, ts(10), false, 30L)  // user 2: purchase with no click → None
      ),
      Seq( // batch 2 — out-of-order arrivals vs user 3's stored click@:20
        (3L, ts(15), true, 51L),  // OLDER click: must NOT regress state
        (3L, ts(21), false, 60L), // purchase after stored click → click 50
        (3L, ts(12), false, 61L)  // straggler purchase BEFORE stored click → None
      ))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val sub = Files.createTempDirectory("graft-asof-build")
      rows.toDF("user_id", "ts", "is_click", "id")
        .coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val part = java.nio.file.Files.list(sub).iterator()
      var found: java.nio.file.Path = null
      while (part.hasNext) {
        val p = part.next()
        val n = p.getFileName.toString
        if (n.startsWith("part-") && n.endsWith(".parquet")) found = p
      }
      assert(found != null, s"no part file under $sub")
      val target = dir.resolve(f"batch-$i%02d.parquet")
      java.nio.file.Files.move(found, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600000L + i * 10000L))
    }
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[(Long, java.sql.Timestamp, Boolean, Long)]
      .map { case (u, t, r, id) => (u, Event(Some(t), Some((r, id)): Option[P])) }(
        Encoders.tuple(Encoders.scalaLong, Encoders.kryo[Event[P]]))
    val enriched = StreamingOps.asofEnrichByKey[Long, P](stream, _._1)
    val typed = enriched.flatMap { case (u, e) =>
      e.value.map { case ((_, id), last) => (u, id, last.map(_._2).getOrElse(-1L)) }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
    val q = typed.toDF("user_id", "id", "click_id").writeStream.format("memory")
      .queryName("asof_test").outputMode("append").start()
    q.processAllAvailable()
    // three files × maxFilesPerTrigger=1 → three micro-batches must have run
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      s"expected 3 data micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    q.stop()
    val got = spark.table("asof_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 20L, 10L), (1L, 21L, 10L), (1L, 22L, 11L), (2L, 30L, -1L),
      (3L, 60L, 50L), (3L, 61L, -1L)))
  }

  test("funnelByKey: stage state carries ACROSS micro-batches, pre-stage events " +
       "never count, equal-ts does not advance, stages emit at most once") {
    import org.apache.spark.sql.Encoders
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val dir = Files.createTempDirectory("graft-funnel")
    val batches = Seq(
      Seq( // batch 0
        (1L, ts(10), "view"),
        (2L, ts(10), "click"),   // click BEFORE any view: never a stage entry
        (3L, ts(10), "view"),
        (3L, ts(10), "click")),  // same-µs click: strictly-after blocks it
      Seq( // batch 1 — user 1's click must read batch 0's view state
        (1L, ts(20), "click"),
        (1L, ts(21), "view"),    // second view: stage already entered, no re-emit
        (2L, ts(20), "view"),
        (3L, ts(12), "purchase")), // stage 2 never entered → blocked
      Seq( // batch 2
        (1L, ts(30), "purchase"),
        (2L, ts(25), "click")))  // click after batch 1's view → stage 2
    batches.zipWithIndex.foreach { case (rows, i) =>
      val sub = Files.createTempDirectory("graft-funnel-build")
      rows.toDF("user_id", "ts", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val part = java.nio.file.Files.list(sub).iterator()
      var found: java.nio.file.Path = null
      while (part.hasNext) {
        val p = part.next()
        val n = p.getFileName.toString
        if (n.startsWith("part-") && n.endsWith(".parquet")) found = p
      }
      assert(found != null, s"no part file under $sub")
      val target = dir.resolve(f"batch-$i%02d.parquet")
      java.nio.file.Files.move(found, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600000L + i * 10000L))
    }
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[(Long, java.sql.Timestamp, String)]
      .map { case (u, t, e) => (u, Event(Some(t), Some(e))) }(
        Encoders.tuple(Encoders.scalaLong, Encoders.kryo[Event[String]]))
    val trans = StreamingOps.funnelByKey[Long](stream, Seq("view", "click", "purchase"))
    val q = trans.toDF("user_id", "stage", "us").writeStream.format("memory")
      .queryName("funnel_test").outputMode("append").start()
    q.processAllAvailable()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      s"expected 3 data micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    q.stop()
    def us(sec: Int) = Event.micros(ts(sec))
    val got = spark.table("funnel_test")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 1, us(10)), (1L, 2, us(20)), (1L, 3, us(30)),
      (2L, 1, us(20)), (2L, 2, us(25)),
      (3L, 1, us(10))))
  }
}
