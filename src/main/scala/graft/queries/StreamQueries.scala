package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.Event
import graft.operators.Relational
import graft.operators.Relational.roundp
import graft.streaming.{Gate, GateTuning, StreamingOps}
import graft.streaming.StreamingOps.keyedEvents

/** The reference's stream-operator semantics expressed over the `events`
  * table (event_id, ts, user_id, event_type, value, props), each paired with
  * a DuckDB oracle. The stream is sharded by `user_id` (the natural stream
  * key) and ordered by (ts, event_id) within the key — one hash exchange,
  * in-partition sort, no global ordering required, so every query here
  * parallelizes across a cluster.
  *
  * Operator → query map (reference cites in each entry):
  * filter→q_filter, map→q_map, filterAcc(changes)→q_changes,
  * scan→q_scan, sliding→q_sliding_count, slidingTime→q_sliding_time,
  * chop→q_chop, chopTime→q_tumbling_1h, expand→see TextQueries,
  * merge→q_merge, zip-join→q_zip_join, joinE→q_join_e, joinW→q_join_w,
  * sample→q_sample, stepEvent→q_step_event, topk→q_topk_window,
  * median→q_median, wearable composite→q_wearable.
  */
object StreamQueries {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Per-key stream order: event time with event_id as the deterministic
    * tiebreaker (reference streams are totally ordered lists). */
  private val byUser = Seq(col("user_id"))
  private val inOrder = Seq(col("ts"), col("event_id"))

  /** The chunked events replay as a typed single stream of (ts, value)
    * events, optionally filtered to one event_type (whose timestamps are
    * unique — the fold order and a ts-ordered oracle then coincide). */
  private def loweredValueSource(s: SparkSession, dir: String, onlyType: Option[String])
      : Dataset[Event[Any]] = {
    import s.implicits._
    val base = Tables.streamEventsChunked(s, dir)
    val filtered = onlyType.fold(base)(t => base.filter(col("event_type") === t))
    filtered
      .select(col("ts"), col("value"))
      .as[(java.sql.Timestamp, Double)]
      .map { case (ts, v) => Event(Some(ts), Some(v: Any)) }(Event.kryo)
  }

  /** The chunked events replay as a typed single stream of (event_id, value)
    * payloads for one event_type — the id travels in the payload so the
    * oracle can join the lowered output back to rows. */
  private def loweredIdValueSource(s: SparkSession, dir: String, onlyType: String)
      : Dataset[Event[Any]] = {
    import s.implicits._
    Tables.streamEventsChunked(s, dir)
      .filter(col("event_type") === onlyType)
      .select(col("ts"), col("event_id"), col("value"))
      .as[(java.sql.Timestamp, Long, Double)]
      .map { case (ts, id, v) => Event(Some(ts), Some((id, v): Any)) }(Event.kryo)
  }

  /** The chunked events replay keyed by user, each event's value. */
  private def valuesByUser(s: SparkSession, dir: String): Dataset[(Long, Event[Double])] = {
    import s.implicits._
    Tables.streamEventsChunked(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .map { case (u, ts, v) => (u, Event(Some(ts), Some(v))) }(keyedEvents)
  }

  /** The chunked events replay keyed by user, each event's (event_id,
    * value in integer cents). */
  private def centsByUser(s: SparkSession, dir: String): Dataset[(Long, Event[(Long, Long)])] = {
    import s.implicits._
    Tables.streamEventsChunked(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .map { case (u, ts, id, v) =>
        // identical IEEE ops to the batch floor(value*100 + 0.5) column
        (u, Event(Some(ts), Some((id, math.floor(v * 100 + 0.5).toLong))))
      }(keyedEvents)
  }

  /** The recognized fused folds the lowered window gates emit, each with
    * its output columns after `window_start`: a count, then one double per
    * lane. `countAndSum` is (n, sum); `stats` is the four-moment
    * (n, sum, min, max), which proves the fold algebra's min/max lanes
    * end-to-end (stamp rule, left-to-right order, recheck) against a SQL
    * oracle, not just in the unit spec. The fused-fold recheck compares the
    * lowering's fold against these closures. */
  private val countAndSum = graft.plans.Param("countAndSum",
    (v: Any) => {
      val vs = v.asInstanceOf[List[Any]]
      var n = 0L; var sum = 0.0
      vs.foreach { x => n += 1; sum += x.asInstanceOf[Double] }
      (n, sum): Any
    }) -> Seq("n", "sum_raw")

  private val stats = graft.plans.Param("stats",
    (v: Any) => {
      val vs = v.asInstanceOf[List[Any]]
      var n = 0L; var sum = 0.0
      var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
      vs.foreach { x =>
        val d = x.asInstanceOf[Double]
        n += 1; sum += d
        mn = math.min(mn, d); mx = math.max(mx, d)
      }
      (n, sum, mn, mx): Any
    }) -> Seq("n", "sum_raw", "min_raw", "max_raw")

  /** Source→Window(form)→Filter(nonEmpty)→Map(fold)→Sink through the
    * stateful lowering ([[graft.plans.StreamingLowering]]), emitted as
    * (window_start, fold columns…) with the stamp the window's FIRST event
    * time. The chain fuses into the window state machine through the
    * generalized FoldEmitter. Drops empty windows (chopTime's
    * period-spanning gaps emit faithful EMPTY windows; they carry no stamp
    * and no rows). */
  private def loweredWindowFold(s: SparkSession, dir: String, onlyType: Option[String],
                                windowParamSrc: String,
                                maker: graft.core.WindowMakers.WindowMaker[Any],
                                fold: (graft.plans.Param, Seq[String]),
                                tmpPrefix: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
    import graft.plans._
    val (foldParam, cols) = fold
    val foldType = cols.tail.map(_ => "Double").mkString("(Long,", ",", ")")
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
      StreamVertex(1, OpWindow, List(Param(windowParamSrc,
        (st: List[Event[Any]]) => maker(st))), "Double", "[Double]", 1),
      StreamVertex(2, OpFilter(0.99), List(Param("nonEmpty",
        (v: Any) => v.asInstanceOf[List[Any]].nonEmpty)), "[Double]", "[Double]", 1),
      StreamVertex(3, OpMap, List(foldParam), "[Double]", foldType, 1),
      StreamVertex(4, OpSink, Nil, foldType, foldType, 1)))
    val lowered = StreamingLowering.lower(
      s, g, Map(0 -> loweredValueSource(s, dir, onlyType)))(4)
    val schema = StructType(StructField("window_start", TimestampType, nullable = false) +:
      StructField(cols.head, LongType, nullable = false) +:
      cols.tail.map(StructField(_, DoubleType, nullable = false)))
    val rows = lowered.map { e =>
      Row.fromSeq(e.time.get +: e.value.get.asInstanceOf[Product].productIterator.toSeq)
    }(Encoders.row(schema))
    Gate.toParquet(rows, OutputMode.Append, tmpPrefix, GateTuning.statePartitions)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // streamFilter (FunctionalProcessing.hs:59-63): Catalyst Filter, pushed
    // to the parquet scan.
    "q_filter" -> ((s, dir) =>
      ev(s, dir)
        .filter(col("event_type") === "click" && col("value") > 50.0)
        .select("event_id", "user_id", "value")),

    // streamMap (FunctionalProcessing.hs:67-71): Catalyst Project.
    "q_map" -> ((s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        roundp(col("value") * 2, 2).as("doubled"),
        upper(col("event_type")).as("type_u"))),

    // streamFilterAcc as `changes` — drop consecutive duplicate event_type
    // per user (reference docs/Operators.md:109-119, Taxi.hs:147-157).
    "q_changes" -> ((s, dir) =>
      Relational.dedupConsecutive(ev(s, dir), col("event_type"), byUser, inOrder)
        .select("event_id", "user_id", "event_type")),

    // streamScan — running sum of value per user (FunctionalProcessing.hs:188-191).
    "q_scan" -> ((s, dir) =>
      Relational.runningAgg(ev(s, dir), sum(col("value")), "running_sum", byUser, inOrder)
        .select(col("event_id"), col("user_id"), roundp(col("running_sum"), 2).as("running_sum"))),

    // sliding n (count-based, per-event window of the next 5 incl. current;
    // FunctionalProcessing.hs:93-97) + aggregate, computed INSIDE the frame
    // (never materializes the window list — our window+map fusion).
    "q_sliding_count" -> ((s, dir) => {
      val w = Window.partitionBy(byUser: _*).orderBy(inOrder: _*).rowsBetween(0, 4)
      ev(s, dir)
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("win_avg", roundp(avg(col("value")).over(w), 4))
        .select("event_id", "user_id", "win_n", "win_avg")
    }),

    // slidingTime ms (FunctionalProcessing.hs:99-108): per event, all events
    // in [t, t+5min) — a range frame over epoch-micros.
    "q_sliding_time" -> ((s, dir) => {
      val w = Window.partitionBy(byUser: _*).orderBy(unix_micros(col("ts")))
        .rangeBetween(0, 300000000L - 1)
      ev(s, dir)
        .withColumn("n_5min", count(lit(1)).over(w))
        .withColumn("sum_5min", roundp(sum(col("value")).over(w), 2))
        .select("event_id", "user_id", "n_5min", "sum_5min")
    }),

    // chop n (FunctionalProcessing.hs:113-116): non-overlapping windows of 10
    // data events per user; last window may be partial.
    "q_chop" -> ((s, dir) => {
      val w = Window.partitionBy(byUser: _*).orderBy(inOrder: _*)
      ev(s, dir)
        .withColumn("chunk_id", floor((row_number().over(w) - 1) / 10))
        .groupBy(col("user_id"), col("chunk_id"))
        .agg(count(lit(1)).as("n"), roundp(sum(col("value")), 2).as("sum_value"))
    }),

    // chopTime with the reference's first-event alignment, per user
    // (FunctionalProcessing.hs:118-129): 6h windows anchored at each
    // user's first event.
    "q_choptime_aligned" -> ((s, dir) =>
      Relational.chopTimeAligned(ev(s, dir), col("ts"), 6L * 3600 * 1000, byUser)
        .groupBy(col("user_id"), col("window_start"))
        .agg(count(lit(1)).as("n"), roundp(sum(col("value")), 2).as("sum_value"))),

    // chopTime as tumbling event-time window (FunctionalProcessing.hs:118-129;
    // epoch alignment).
    "q_tumbling_1h" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), roundp(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))),

    // The SAME tumbling aggregation executed THROUGH Structured Streaming
    // (reference: the entire runtime layer is streaming, Nodes.hs:52-167):
    // events parquet replayed via readStream → watermarked event-time
    // window aggregate → foreachBatch parquet sink (the reference's
    // arbitrary-IO sink), read back for the gate. Complete output mode
    // closes every window of the finite replay, so the result matches the
    // batch q_tumbling_1h oracle exactly. At production scale the same
    // pipeline runs unbounded with update mode + a real watermark; the
    // complete-mode finite replay is the oracle-checkable configuration.
    "q_streaming_tumbling" -> ((s, dir) => {
      val agg = graft.streaming.StreamingOps.tumblingAgg(
          Tables.streamEvents(s, dir), "ts", "1 hour", watermark = "1 minute",
          keys = Seq(col("event_type")),
          aggs = Seq(count(lit(1)).as("n"), roundp(sum(col("value")), 2).as("sum_value")))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
      Gate.toParquet(agg, OutputMode.Complete, "graft_stream_", GateTuning.shardedStatePartitions)
    }),

    // The KEYED stateful streaming forms — the production 100 TB path
    // (state shards across executors by key, unlike the single-group
    // lowering gates): per-user running sum through StreamingOps.scanByKey
    // over the chunked replay, per-key accumulators carrying across
    // micro-batch/checkpoint boundaries. Reuses the batch q_scan oracle.
    // ASSUMES per-user unique ts (true of the generated `events` table,
    // pinned by TablesSpec): the oracle tiebreaks equal timestamps by
    // event_id while the fold runs in Event.orderKey order (content-hash
    // tiebreak) — two same-microsecond events for one user could order
    // differently on the two sides. Same assumption as the chop/changes
    // bykey gates below.
    "q_streaming_scan_bykey" -> ((s, dir) => {
      import s.implicits._
      val keyed = Tables.streamEventsChunked(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .as[(Long, java.sql.Timestamp, Long, Double)]
        .map { case (u, ts, id, v) => (u, Event(Some(ts), Some((id, v)))) }(keyedEvents)
      val scanned = StreamingOps.scanByKey[Long, (Long, Double), (Long, Double)](
        keyed,
        (acc, x) => (x._1, acc._2 + x._2),
        (0L, 0.0))
      val typed = scanned.flatMap { case (u, e) =>
        e.value.map { case (id, sum) => (id, u, sum) }
      }
      Gate.toParquet(typed.toDF("event_id", "user_id", "sum_raw"),
        OutputMode.Append, "graft_stream_sbk_", GateTuning.shardedStatePartitions)
        .select(col("event_id"), col("user_id"), roundp(col("sum_raw"), 2).as("running_sum"))
    }),

    // Per-user changes-dedup through StreamingOps.filterAccByKey (the
    // keyed FilterAcc state machine): keep an event iff its event_type
    // differs from the user's previous one — state is ONE string per user.
    // Reuses the batch q_changes oracle.
    "q_streaming_changes_bykey" -> ((s, dir) => {
      import s.implicits._
      val keyed = Tables.streamEventsChunked(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[(Long, java.sql.Timestamp, Long, String)]
        .map { case (u, ts, id, t) => (u, Event(Some(ts), Some((id, t)))) }(keyedEvents)
      val kept = StreamingOps.filterAccByKey[Long, (Long, String), String](
        keyed,
        (_, x) => x._2,
        null.asInstanceOf[String],
        (x, acc) => acc == null || acc != x._2)
      val typed = kept.flatMap { case (u, e) =>
        e.value.map { case (id, t) => (id, u, t) }
      }
      Gate.toParquet(typed.toDF("event_id", "user_id", "event_type"),
        OutputMode.Append, "graft_stream_cbk_", GateTuning.shardedStatePartitions)
    }),

    // Streaming as-of enrichment through StreamingOps.asofEnrichByKey:
    // each purchase enriched with the user's most recent at-or-before
    // click — state is ONE click per user, carried across micro-batches.
    // Reuses the batch q_asof_join oracle (DuckDB native ASOF JOIN):
    // chunk replay is time-contiguous and per-user ts are unique, so the
    // streaming fold's "last click seen" IS the batch argmax. Inner
    // semantics via the state=None drop in the flatMap.
    "q_streaming_asof" -> ((s, dir) => {
      import s.implicits._
      // payload: (isClick, event_id, ts_us, value)
      type P = (Boolean, Long, Long, Double)
      val keyed = Tables.streamEventsChunked(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
        .as[(Long, java.sql.Timestamp, Long, String, Double)]
        .map { case (u, ts, id, t, v) =>
          (u, Event(Some(ts), Some((t == "click", id, Event.micros(ts), v)): Option[P]))
        }(keyedEvents)
      val enriched = StreamingOps.asofEnrichByKey[Long, P](keyed, _._1)
      val typed = enriched.flatMap { case (u, e) =>
        for { (p, lastOpt) <- e.value.toSeq; c <- lastOpt.toSeq }
          yield (p._2, u, p._3, p._4, c._2, c._3)
      }
      Gate.toParquet(
        typed.toDF("event_id", "user_id", "p_us", "value", "click_id", "c_us"),
        OutputMode.Append, "graft_stream_asof_", GateTuning.shardedStatePartitions)
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("p_us")).as("ts"), col("value"),
          col("click_id"), timestamp_micros(col("c_us")).as("click_ts"),
          (col("p_us") - col("c_us")).as("gap_us"))
    }),

    // CUSTOM WindowMaker closure through the graph lowering's
    // BoundedLookback path (StreamingLowering.boundedWindowLower). The
    // maker is the reference's `tripTimes` idiom (Taxi.hs:400-402): one
    // singleton window per event, RE-STAMPED from the payload (here the
    // props `k` shift, the q_restamp field) — exactly the "fix the
    // ingest-time stamp from the inner record" pattern, composed with
    // streamExpand as the reference documents. Declared lookback 1, so
    // the lowering keeps O(1) checkpoint state (checked at every
    // eviction) and emits every window but the last (still growable) —
    // an UNDECLARED closure takes genericWindowLower's O(prefix) buffer
    // instead, capped at 1e6 events. The replay ends with a FLUSH
    // SENTINEL micro-batch (one event_id=-1 event past max ts), so the
    // one withheld window is the sentinel's and every REAL event is
    // emitted — the oracle is simply "all events re-stamped", with no
    // last-row exclusion that would silently assume max(ts) is unique
    // (it is not on the isomorphic-copy scale datasets).
    "q_streaming_custom_window" -> ((s, dir) => {
      import s.implicits._
      import graft.plans._
      val tripTimes = (st: List[Event[Any]]) => st.map { e =>
        (e.time, e.value) match {
          case (Some(t), Some(p)) =>
            val (_, _, k) = p.asInstanceOf[(Long, Double, Long)]
            List(Event(Some(Event.fromMicros(Event.micros(t) + k * 1000000L)), e.value))
          case _ => List(e)
        }
      }
      // the maker is a single-event re-stamper — lookback 1 — so DECLARE
      // it (graft.core.BoundedLookback): the streaming lowering then keeps
      // O(1) state instead of the generic fallback's O(prefix) buffer
      // (which hits its 1e6-event directed cap on the 26x replay). The
      // declaration is checked at every eviction, not trusted.
      val g = StreamGraph.path(Seq(
        StreamVertex(0, OpSource(1), Nil, "(Long,Double,Long)", "(Long,Double,Long)", 1),
        StreamVertex(1, OpWindow,
          List(Param("tripTimes", graft.core.BoundedLookback(1)(tripTimes): Any)),
          "(Long,Double,Long)", "[(Long,Double,Long)]", 1),
        StreamVertex(2, OpExpand, Nil, "[(Long,Double,Long)]", "(Long,Double,Long)", 1),
        StreamVertex(3, OpSink, Nil, "(Long,Double,Long)", "(Long,Double,Long)", 1)))
      val src = Tables.streamEventsChunkedWithFlush(s, dir)
        .select(col("ts"), col("event_id"), col("value"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
        .as[(java.sql.Timestamp, Long, Double, Long)]
        .map { case (ts, id, v, k) => Event(Some(ts), Some((id, v, k): Any)) }(Event.kryo)
      val lowered = StreamingLowering.lower(s, g, Map(0 -> src))(3)
      val typed = lowered.map { e =>
        val (id, v, _) = e.value.get.asInstanceOf[(Long, Double, Long)]
        (e.time.get, id, v)
      }
      Gate.toParquet(typed.toDF("ts2", "event_id", "value"),
        OutputMode.Append, "graft_stream_cw_", GateTuning.statePartitions)
        // the flush sentinel (event_id -1) is the one withheld pending
        // window and never reaches the sink; the filter is defensive —
        // it must not appear in the oracle-compared output either way
        .filter(col("event_id") >= 0)
        .select(col("event_id"), col("ts2"), roundp(col("value"), 2).as("value"))
    }),

    // Streaming INGEST NEAR-DUP DETECTION — the online face of the
    // MinHash-LSH pipeline: documents arrive as micro-batches (doc_id-
    // contiguous chunk replay, the crawl-feed shape) and each batch's
    // band hashes are (1) equi-joined against the ACCUMULATED band index
    // of everything ingested before it and (2) self-joined within the
    // batch — so a candidate pair is emitted exactly once, in the batch
    // where its LATER document lands, with its final shared-band count
    // (both docs' band sets are complete at that moment; bands of a doc
    // never change). The index grows by appending each batch's bands as
    // a batchId-keyed parquet dir (idempotent on retry; at 100 TB this
    // is the bucketed band table a dedup service maintains). The union
    // over batches therefore equals the BATCH q_minhash_lsh output
    // row-for-row, and the gate reuses its bit-exact XXH64 oracle.
    "q_streaming_minhash" -> ((s, dir) => {
      val gateDir = graft.core.TempDirs.create("graft_mh_").toAbsolutePath
      val (idxDir, outDir) = (s"$gateDir/idx", s"$gateDir/out")
      val bandSchema = "doc_id BIGINT, band_idx INT, band_hash BIGINT"
      Gate.run(Tables.streamDocsChunked(s, dir), OutputMode.Append, gateDir,
          GateTuning.shardedStatePartitions) { (b, batchId) =>
        if (!b.isEmpty) {
          val bandsNew = graft.dedup.Dedup.minhashBands(
            graft.dedup.Dedup.minhashSignatures(b, col("doc_id"), col("text"),
              n = 3, numPerms = 32),
            numPerms = 32, rowsPerBand = 4).localCheckpoint()
          val histDirs = (0L until batchId).map(i => s"$idxDir/b$i")
            .filter(p => new java.io.File(p).exists())
          val newL = bandsNew.select(col("band_idx"), col("band_hash"),
            col("doc_id").as("id_a"))
          val newR = bandsNew.select(col("band_idx"), col("band_hash"),
            col("doc_id").as("id_b"))
          val vsHistory =
            if (histDirs.isEmpty) s.emptyDataFrame
                .withColumn("id_a", lit(0L)).withColumn("id_b", lit(0L))
                .select("id_a", "id_b").limit(0)
            else s.read.schema(bandSchema).parquet(histDirs: _*)
              .select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
              .join(newR, Seq("band_idx", "band_hash"))
              .select("id_a", "id_b")
          val withinBatch = newL.join(newR, Seq("band_idx", "band_hash"))
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b")
          vsHistory.unionByName(withinBatch)
            .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"))
            .groupBy(col("id_a"), col("id_b"))
            .agg(count(lit(1)).as("n_shared_bands"))
            .write.mode("overwrite").parquet(s"$outDir/b$batchId")
          bandsNew.write.mode("overwrite").parquet(s"$idxDir/b$batchId")
        }
      }
      Gate.readAll(s.read, outDir)
    }),

    // Streaming ANN SERVING — the online face of the PQ pipeline: query
    // embeddings arrive as micro-batches (vec_id < 50 replayed in 3
    // id-contiguous chunks) and each batch is enriched against the
    // STATIC encoded corpus via Pq.adcKnn — per batch, the collected
    // query set becomes the broadcast LUT literal and the corpus codes
    // are scanned once (the stream-static serving join; at 100 TB the
    // codes table is the persisted artifact and each micro-batch costs
    // one code scan, never a re-encode). Top-k per query is independent
    // across queries, so the replayed stream must equal the batch ADC
    // bit-for-bit — the oracle is the q_knn_pq SQL over vec_id < 50.
    // Per-batch output dirs are keyed by batchId and overwritten, so a
    // retried micro-batch re-applies idempotently.
    "q_streaming_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cbs = graft.similarity.Pq.seedCodebooks(e, "vec_id", "embedding", m = 4, ksub = 8)
      val (srcDir, schema) = Tables.writeChunkedReplay(
        e.filter(col("vec_id") < 50), col("vec_id"), nChunks = 3, "graft_knn_src_")
      val gateDir = graft.core.TempDirs.create("graft_knn_").toAbsolutePath
      Gate.run(s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(srcDir),
          OutputMode.Append, gateDir, GateTuning.shardedStatePartitions) { (b, batchId) =>
        if (!b.isEmpty) Gate.writeBatch(OutputMode.Append, gateDir)(
          graft.similarity.Pq.adcKnn(e, b, cbs, k = 5), batchId)
      }
      Gate.readBack(s, gateDir)
    }),

    // Streaming DSIR SERVING — the online face of q_dsir's data
    // selection: the model (the 256-row log-ratio bucket table) is fitted
    // ONCE on the static corpus, localCheckpointed, and every arriving
    // micro-batch of documents is scored against it through a broadcast
    // join — the "static model, streaming crawl" shape (the q_streaming_
    // knn pattern applied to importance weights). A document's score is a
    // pure function of its own features and the model, so the union over
    // batches reproduces the batch q_dsir output row-for-row — the gate
    // reuses its oracle verbatim.
    "q_streaming_dsir" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
      val lam = graft.text.Dsir.model(base, targetLang = "en", buckets = 256)
        .localCheckpoint()
      val gateDir = graft.core.TempDirs.create("graft_dsir_").toAbsolutePath
      Gate.run(Tables.streamDocsChunked(s, dir), OutputMode.Append, gateDir,
          GateTuning.shardedStatePartitions) { (b, batchId) =>
        // per-batch widen STAYS ON: a chunk-file micro-batch arrives as
        // ONE partition, so scoring 1/4 of the corpus would run
        // single-threaded — measured at 26x data, the widened batch
        // scores in 10.0 s vs 71.9 s without (the toy-scale cost is ~1 s
        // of exchange per gate). Callers with genuinely small or
        // already-parallel batches can pass widenScan = false.
        if (!b.isEmpty) Gate.writeBatch(OutputMode.Append, gateDir)(
          graft.text.Dsir.scoreAgainst(b, lam, buckets = 256), batchId)
      }
      Gate.readBack(s, gateDir)
    }),

    // Streaming ordered funnel through StreamingOps.funnelByKey: per-user
    // stage entry times as N-long state, each advancement emitted ONCE as
    // an append-only (user, stage, ts) transition — rows are final at
    // emission, no watermark needed. On the time-contiguous chunk replay
    // the greedy online rule reaches exactly the batch funnelStages
    // minima, so the oracle is the batch funnel CTE chain unpivoted.
    "q_streaming_funnel" -> ((s, dir) => {
      import s.implicits._
      val keyed = Tables.streamEventsChunked(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)]
        .map { case (u, ts, t) => (u, Event(Some(ts), Some(t))) }(keyedEvents)
      val trans = StreamingOps.funnelByKey[Long](keyed,
        Seq("view", "click", "purchase"))
      Gate.toParquet(trans.toDF("user_id", "stage", "us"),
        OutputMode.Append, "graft_stream_funnel_", GateTuning.shardedStatePartitions)
        .select(col("user_id"), col("stage"),
          timestamp_micros(col("us")).as("ts"))
    }),

    // INCREMENTAL table maintenance — the CDC changeset replayed as 3
    // key-contiguous micro-batches, each applied to the CURRENT table
    // version with Relational.mergeUpsert and written as version v+1 (the
    // Delta-style continuous-merge loop, with plain parquet versions as
    // the transaction log stand-in). The changeset carries at most one
    // change per key and chunks are key-disjoint, so sequential
    // application provably commutes to the single batch merge — the gate
    // reuses q_merge_upsert's oracle on the FINAL version.
    "q_streaming_merge" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
      val (srcDir, schema) = Tables.writeChunkedReplay(
        TextQueries.mergeChangeset(base), col("doc_id"), nChunks = 3, "graft_merge_src_")
      val tableDir = graft.core.TempDirs.create("graft_merge_tbl_").toAbsolutePath
      // guardMergeBase: the v0 write scans every base row once, so the
      // offset-collision precondition rides along as a codegen'd
      // conditional instead of a separate eager aggregate
      TextQueries.guardMergeBase(base).write.parquet(s"$tableDir/v0")
      // Version dirs are keyed by the micro-batch's batchId (version
      // b+1 = v$b merged with batch b) and written with overwrite, so a
      // micro-batch that Structured Streaming re-executes after a
      // transient failure re-applies IDEMPOTENTLY — same input version,
      // same output path — instead of crashing on errorifexists.
      @volatile var lastVersion = 0L
      Gate.run(s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(srcDir),
          OutputMode.Append, tableDir, GateTuning.shardedStatePartitions) { (b, batchId) =>
        val cur = s.read.parquet(s"$tableDir/v$batchId")
        graft.operators.Relational.mergeUpsert(cur, b, "doc_id")
          .write.mode("overwrite").parquet(s"$tableDir/v${batchId + 1}")
        lastVersion = batchId + 1
      }
      s.read.parquet(s"$tableDir/v$lastVersion")
    }),

    // Streaming rolling z-score through StreamingOps.trailingStatsByKey:
    // the batch q_rolling_zscore trailing-10 window as a keyed FIFO state
    // machine — integer cents recovered identically, n/s/q emitted per
    // event (partial leading windows included), the cross-multiplied
    // integer anomaly test applied as the same column expression. Reuses
    // the batch oracle verbatim: all-integer emissions are final at
    // arrival, so the replayed stream must hash-match it exactly.
    // Streaming EWMA through StreamingOps.ewmaByKey — the q_ewma
    // binary-weighted trailing fold as a keyed FIFO state machine:
    // integer cents recovered identically, the weighted numerator and
    // term count emitted per event. All-integer emissions are final at
    // arrival, so the replayed stream reuses the batch oracle verbatim.
    "q_streaming_ewma" -> ((s, dir) => {
      import s.implicits._
      val stats = StreamingOps.ewmaByKey[Long](centsByUser(s, dir), lookback = 16)
      Gate.toParquet(stats.toDF("user_id", "event_id", "cents", "ewma_num", "n_terms"),
        OutputMode.Append, "graft_stream_ewma_", GateTuning.shardedStatePartitions)
        .select(col("event_id"), col("user_id"), col("cents"),
          col("ewma_num"), col("n_terms"))
    }),

    // Streaming fixed-width histogram — the profiling primitive as a
    // COMPLETE-mode aggregate: per $5 bin of exact value cents, the
    // running count/sum/min/max over everything ingested so far (each
    // micro-batch overwrites the result with the new totals — the
    // standard live-dashboard shape; state is |bins|, data-size-
    // independent). After full replay the final table IS the batch
    // histogram — integer-exact, hash-matched.
    "q_streaming_histogram" -> ((s, dir) => {
      val binned = Tables.streamEventsChunked(s, dir)
        .select(expr("CAST(floor(value * 100 + 0.5) AS BIGINT) DIV 500").as("bin"),
          floor(col("value") * 100 + 0.5).cast("bigint").as("c"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
          min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
      Gate.toParquet(binned, OutputMode.Complete, "graft_stream_hist_", GateTuning.shardedStatePartitions)
    }),

    // Streaming last-touch attribution: purchases credited at ARRIVAL to
    // the user's carried channel (StreamingOps.attributeByKey — ONE
    // string of state per key). In-order replay ⇒ row-for-row the batch
    // q_attribution window's per-purchase assignment.
    "q_streaming_attribution" -> ((s, dir) => {
      import s.implicits._
      val keyed = Tables.streamEventsChunked(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .as[(Long, java.sql.Timestamp, Long, String, Double)]
        .map { case (u, ts, id, ty, v) =>
          // identical IEEE ops to the batch floor(value*100 + 0.5) column
          (u, Event(Some(ts), Some((id, ty, math.floor(v * 100 + 0.5).toLong))))
        }(keyedEvents)
      val credited = StreamingOps.attributeByKey[Long](
        keyed, creditType = "purchase", defaultChannel = "direct")
      Gate.toParquet(credited.toDF("user_id", "event_id", "channel", "cents"),
        OutputMode.Append, "graft_stream_attr_", GateTuning.shardedStatePartitions)
        .select(col("event_id"), col("user_id"), col("channel"), col("cents"))
    }),

    "q_streaming_zscore" -> ((s, dir) => {
      import s.implicits._
      val stats = StreamingOps.trailingStatsByKey[Long](centsByUser(s, dir), lookback = 10)
      Gate.toParquet(stats.toDF("user_id", "event_id", "cents", "n_win", "s", "q"),
        OutputMode.Append, "graft_stream_zscore_", GateTuning.shardedStatePartitions)
        .select(col("event_id"), col("user_id"), col("cents"),
          col("n_win"), col("s"), col("q"),
          ((col("n_win") * col("cents") - col("s"))
            * (col("n_win") * col("cents") - col("s"))
            > lit(9) * (col("n_win") * col("q") - col("s") * col("s"))).as("anomaly"))
    }),

    // Per-user count-tumbling windows through StreamingOps.chopByKey (the
    // keyed chop(5) state machine — open windows carry across micro-batch
    // boundaries per key). Emits (user_id, window_start, n, sum_value) for
    // full windows; the oracle drops each user's trailing partial group
    // the same way. Per-user ts are unique, so fold order == oracle order.
    "q_streaming_chop_bykey" -> ((s, dir) => {
      import s.implicits._
      val chopped = StreamingOps.chopByKey[Long, Double](valuesByUser(s, dir), n = 5)
      val typed = chopped.flatMap { case (u, e) =>
        e.value.map { w => (u, e.time.get, w.length.toLong, w.sum) }
      }
      Gate.toParquet(typed.toDF("user_id", "window_start", "n", "sum_raw"),
        OutputMode.Append, "graft_stream_chbk_", GateTuning.shardedStatePartitions)
        .select(col("user_id"), col("window_start"), col("n"),
          roundp(col("sum_raw"), 2).as("sum_value"))
    }),

    // Per-user count-sliding windows through StreamingOps.slidingByKey
    // (per-key sliding(5): per event, the window of the next 5; FIFO
    // queue in state across micro-batches; each user's trailing 4 partial
    // windows never emit — the oracle drops them identically).
    "q_streaming_sliding_bykey" -> ((s, dir) => {
      import s.implicits._
      val slid = StreamingOps.slidingByKey[Long, Double](valuesByUser(s, dir), n = 5)
      val typed = slid.flatMap { case (u, e) =>
        e.value.map { w => (u, e.time.get, w.length.toLong, w.sum) }
      }
      Gate.toParquet(typed.toDF("user_id", "window_start", "n", "sum_raw"),
        OutputMode.Append, "graft_stream_slbk_", GateTuning.shardedStatePartitions)
        .select(col("user_id"), col("window_start"), col("n"),
          roundp(col("sum_raw"), 2).as("sum_value"))
    }),

    // Per-user time-sliding windows through StreamingOps.slidingTimeByKey
    // (per-key slidingTime(6h): per event the window [t, t+6h) over that
    // user's events; FIFO queue in state; a user's windows whose end lies
    // beyond their last event never close — the oracle drops them the
    // same way).
    "q_streaming_slidingtime_bykey" -> ((s, dir) => {
      import s.implicits._
      val slid = StreamingOps.slidingTimeByKey[Long, Double](
        valuesByUser(s, dir), ms = 6L * 3600 * 1000)
      val typed = slid.flatMap { case (u, e) =>
        e.value.map { w => (u, e.time.get, w.length.toLong, w.sum) }
      }
      Gate.toParquet(typed.toDF("user_id", "window_start", "n", "sum_raw"),
        OutputMode.Append, "graft_stream_stbk_", GateTuning.shardedStatePartitions)
        .select(col("user_id"), col("window_start"), col("n"),
          roundp(col("sum_raw"), 2).as("sum_value"))
    }),

    // STREAMING stateful dedup — Structured Streaming's dropDuplicates
    // state machine fed the 4-file chunked replay: a key first seen in
    // micro-batch 1 must NOT re-emit in batch 3, so the carried seen-keys
    // state is what's gated. Keys only (which ROW survives per key is
    // plan-order-dependent; the key set is deterministic). The streaming
    // face of the exact-dedup pillar (batch: q_dedup_exact).
    "q_streaming_dedup" -> ((s, dir) => {
      val dedup = Tables.streamEventsChunked(s, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      Gate.toParquet(dedup, OutputMode.Append, "graft_stream_dd_", GateTuning.shardedStatePartitions)
    }),

    // STREAM-STREAM interval join — Structured Streaming's hardest
    // primitive (both sides buffered in watermark-bounded state, pairs
    // emitted as matches arrive, state evicted once the watermark passes
    // the join window): clicks x purchases per user within ±1h, fed the
    // chunked replay so matches form ACROSS micro-batches. Watermark 2h >
    // the 1h join window, so no pair of the finite replay is evicted
    // before its match arrives and the inner join emits exactly the
    // relational result.
    "q_streaming_interval_join" -> ((s, dir) => {
      // ONE readStream, both sides filtered from it (a stream self-join):
      // two independent source instances would each replay the 4 files,
      // doubling the micro-batch floor for identical results
      val base = Tables.streamEventsChunked(s, dir)
      val clicks = base
        .filter(col("event_type") === "click")
        .select(col("ts").as("c_ts"), col("event_id").as("click_id"), col("user_id"))
      val purchases = base
        .filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), col("event_id").as("purchase_id"),
          col("user_id").as("p_user"))
      val joined = graft.streaming.StreamJoins.intervalJoin(
          clicks, purchases, "c_ts", "p_ts",
          watermark = "2 hours", windowMs = 3600000L,
          keys = col("user_id") === col("p_user"))
        .select(col("click_id"), col("purchase_id"), col("user_id"))
      Gate.toParquet(joined, OutputMode.Append, "graft_stream_ij_", GateTuning.shardedStatePartitions)
    }),

    // streamJoinW executed as ONE streaming aggregation over both sides
    // (`StreamJoins.windowAggJoin`): per tumbling hour, each side's
    // aggregate reads only that side's rows, and an hour with rows on both
    // sides is a pair; append mode. A window pair emits once
    // the watermark passes its end; on the finite replay that is every
    // window ending at/before max(ts) − 1min — the oracle excludes the
    // rest identically. The batch form is q_join_w.
    "q_streaming_join_w" -> ((s, dir) => {
      val base = Tables.streamEventsChunked(s, dir)
      val joined = graft.streaming.StreamJoins.windowAggJoin(
        base.filter(col("event_type") === "click"),
        base.filter(col("event_type") === "purchase"),
        tsLeft = "ts", tsRight = "ts", duration = "1 hour", watermark = "1 minute",
        leftAggs = Seq(count(lit(1)).as("n_clicks")),
        rightAggs = Seq(roundp(sum(col("value")), 2).as("purchase_total")))
        .select(col("w.start").as("window_start"), col("n_clicks"), col("purchase_total"))
      Gate.toParquet(joined, OutputMode.Append, "graft_stream_wj_", GateTuning.shardedStatePartitions)
    }),

    // streamJoinW with DIFFERING per-side window lengths — the reference's
    // flagship shape (Taxi Q2 joins a 15-min window against a 30-min window,
    // Taxi.hs:299-305): 15-min click counts paired with the 30-min purchase
    // sum of the 30-min window holding them, in one streaming aggregation
    // grouped by (30-min window, 15-min slot). A pair emits once the
    // watermark passes the COARSE window's end (which implies every
    // contained fine window has closed); the oracle excludes later windows
    // identically.
    "q_streaming_join_w2" -> ((s, dir) => {
      val base = Tables.streamEventsChunked(s, dir)
      val joined = graft.streaming.StreamJoins.windowAggJoin(
        base.filter(col("event_type") === "click"),
        base.filter(col("event_type") === "purchase"),
        tsLeft = "ts", tsRight = "ts",
        durationLeft = "15 minutes", durationRight = "30 minutes",
        watermark = "1 minute",
        leftAggs = Seq(count(lit(1)).as("n_clicks")),
        rightAggs = Seq(roundp(sum(col("value")), 2).as("purchase_total")))
        .select(col("w.start").as("window_start"), col("wl.start").as("sub_start"),
          col("n_clicks"), col("purchase_total"))
      Gate.toParquet(joined, OutputMode.Append, "graft_stream_wj2_", GateTuning.shardedStatePartitions)
    }),

    // STREAMING session windows — Spark's native session_window aggregate
    // (merging-window state) through the replay; complete mode flushes
    // every session of the finite stream, so the batch q_session_window
    // oracle applies verbatim.
    "q_streaming_session" -> ((s, dir) => {
      val agg = Tables.streamEvents(s, dir)
        .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), roundp(sum(col("value")), 2).as("sum_value"))
        .select(col("w.start").as("session_start"), col("user_id"),
          col("n"), col("sum_value"))
      Gate.toParquet(agg, OutputMode.Complete, "graft_stream_ss_", GateTuning.shardedStatePartitions)
    }),

    // APPEND-MODE session windows — the unbounded-stream configuration:
    // with a watermark, a session's state is EVICTED (and the session
    // emitted exactly once) as soon as the watermark provably passes its
    // close, so state holds only open sessions instead of every session
    // ever seen (the complete-mode q_streaming_session's cost). Fed the
    // 4-chunk replay so sessions merge across micro-batches. On the finite
    // replay the final watermark is max(ts) − 1min, so exactly the sessions
    // whose close (last event + 10min gap) lies at/before that emit — the
    // oracle filters the batch gaps-and-islands result identically (the
    // q_streaming_join_w move).
    "q_streaming_session_append" -> ((s, dir) => {
      val agg = graft.streaming.StreamingOps.sessionAgg(
          Tables.streamEventsChunked(s, dir), "ts", gap = "10 minutes",
          watermark = "1 minute", keys = Seq(col("user_id")),
          aggs = Seq(count(lit(1)).as("n"), roundp(sum(col("value")), 2).as("sum_value")))
        .select(col("session_window.start").as("session_start"), col("user_id"),
          col("n"), col("sum_value"))
      Gate.toParquet(agg, OutputMode.Append, "graft_stream_ssa_", GateTuning.shardedStatePartitions)
    }),

    // streamJoinE as a STREAMING stream-stream join (the last §2.3
    // composite that was batch-only): both sides bucketed into their
    // tumbling hour window, joined on WINDOW EQUALITY + the theta predicate
    // (click_value > purchase_value), per user. Window equality bounds both
    // sides' join state by the watermark — O(events per window), never
    // O(stream) — and the inner join emits pairs as matches arrive, so the
    // finite replay reproduces the batch q_join_e result verbatim (same
    // oracle). Fed the chunked replay: pairs form across micro-batches out
    // of buffered state, which is what's being gated.
    "q_streaming_join_e" -> ((s, dir) => {
      val base = Tables.streamEventsChunked(s, dir)
      val clicks = base.filter(col("event_type") === "click")
        .select(col("ts").as("c_ts"), col("user_id"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      val joined = graft.streaming.StreamJoins.windowThetaJoin(
          clicks, purchases, "c_ts", "p_ts", duration = "1 hour",
          watermark = "2 hours",
          theta = col("user_id") === col("p_user") &&
            col("click_value") > col("purchase_value"))
        // the epoch-aligned 1h window start IS date_trunc('hour', c_ts)
        .select(col("w.start").as("hour"), col("user_id"),
          col("click_id"), col("purchase_id"))
      Gate.toParquet(joined, OutputMode.Append, "graft_stream_je_", GateTuning.shardedStatePartitions)
    }),

    // chopTime executed THROUGH the stateful streaming lowering
    // (StreamingLowering.lower → flatMapGroupsWithState): the reference's
    // Source→Window(chopTime)→Filter→Map graph (FunctionalProcessing.hs:
    // 118-129 + Nodes.hs:52-167) lowered onto Structured Streaming, fed a
    // 4-file time-ordered replay (maxFilesPerTrigger=1 → 4 micro-batches,
    // so windows span batch boundaries and the checkpointed state carry is
    // what's being gated), sunk via foreachBatch. 6h windows anchored at
    // the GLOBAL first event (the lowering is the single-ordered-stream
    // runtime, matching the reference's one-stream interpreter — the
    // per-user form is the batch q_choptime_aligned). A window closes when
    // the first event at/after its end arrives, so the final partial
    // window of the finite replay stays pending — the oracle excludes the
    // last window for the same reason.
    "q_streaming_choptime" -> ((s, dir) => {
      val ms = 6L * 3600 * 1000
      val msUs = ms * 1000L
      val res = loweredWindowFold(s, dir, onlyType = None, s"chopTime $ms",
        graft.core.WindowMakers.chopTime[Any](ms), countAndSum, "graft_stream_ct_")
      // the raw stamp is the window's first EVENT's time — normalize to the
      // window BOUNDARY: anchor + k*period, anchor = global first event =
      // the first window's stamp. A global window min (one partition over
      // the window-count-sized READ-BACK, not the stream) — no crossJoin
      // node, no whitelist entry
      res
        .withColumn("anchor_us",
          min(unix_micros(col("window_start"))).over(Window.partitionBy()))
        .withColumn("us", unix_micros(col("window_start")))
        .select(
          timestamp_micros(col("anchor_us") +
            expr(s"((us - anchor_us) div $msUs)") * msUs).as("window_start"),
          col("n"), roundp(col("sum_raw"), 2).as("sum_value"))
    }),

    // chop(n) through the stateful lowering: the count-tumbling state
    // machine ((count, reversed-buffer) state, window emitted ON its n-th
    // event) — clicks only, so fold order == the oracle's ts order. Unlike
    // sliding, a window closes on arrival of its own last event, so ALL
    // complete groups emit; only the final partial group stays pending.
    "q_streaming_chop" -> ((s, dir) =>
      loweredWindowFold(s, dir, onlyType = Some("click"), "chop 5",
          graft.core.WindowMakers.chop[Any](5), countAndSum, "graft_stream_ch_")
        .select(col("window_start"), col("n"), roundp(col("sum_raw"), 2).as("sum_value"))),

    // slidingTime(ms) through the stateful lowering: the time-sliding
    // queue state machine — per event e a window [e.t, e.t+ms) that closes
    // when the first event at/after e.t+ms arrives; state = events still
    // inside some pending window (O(window), not O(history)). Windows
    // whose end lies beyond the last replayed event never close — the
    // oracle drops them the same way.
    "q_streaming_slidingtime" -> ((s, dir) => {
      val ms = 6L * 3600 * 1000
      loweredWindowFold(s, dir, onlyType = Some("click"), s"slidingTime $ms",
          graft.core.WindowMakers.slidingTime[Any](ms), countAndSum, "graft_stream_st_")
        .select(col("window_start"), col("n"), roundp(col("sum_raw"), 2).as("sum_value"))
    }),

    // same window machine, the `stats` fused fold: (n, sum, min, max)
    // per sliding window — proves the generalized fold algebra's min/max
    // lanes through the streaming lowering against a SQL oracle
    "q_streaming_slidingtime_stats" -> ((s, dir) => {
      val ms = 6L * 3600 * 1000
      loweredWindowFold(s, dir, onlyType = Some("click"), s"slidingTime $ms",
          graft.core.WindowMakers.slidingTime[Any](ms), stats, "graft_stream_sts_")
        .select(col("window_start"), col("n"),
          roundp(col("sum_raw"), 2).as("sum_value"),
          roundp(col("min_raw"), 2).as("min_value"),
          roundp(col("max_raw"), 2).as("max_value"))
    }),

    // sliding(n) executed THROUGH the stateful streaming lowering: the
    // count-based sliding window's FIFO-queue state machine
    // (StreamingLowering.slidingStep — a window emits when its n-th event
    // arrives, the queue drops its head) fed the 4-file time-ordered
    // replay, so open windows span micro-batch boundaries and the
    // checkpointed queue carry is what's gated. Clicks only: their event
    // times are unique, so the lowering's event-time fold order and the
    // oracle's ts order coincide. The trailing n−1 partial windows never
    // emit (an unbounded stream never ends) — the oracle drops the last
    // n−1 starts for the same reason.
    "q_streaming_sliding" -> ((s, dir) =>
      loweredWindowFold(s, dir, onlyType = Some("click"), "sliding 5",
          graft.core.WindowMakers.sliding[Any](5), countAndSum, "graft_stream_sl_")
        .select(col("window_start"), col("n"), roundp(col("sum_raw"), 2).as("sum_value"))),

    // streamJoin zip executed THROUGH the stateful streaming lowering:
    // the reference's two-source Source⇉Join→Sink graph
    // (FunctionalProcessing.hs:148-155 + Nodes.hs:52-167) lowered onto a
    // flatMapGroupsWithState zip whose state buffers each side's unpaired
    // tail (StreamingLowering.zipJoinLower). Fed the same 4-file
    // time-ordered replay as q_streaming_choptime (maxFilesPerTrigger=1 →
    // 4 micro-batches), so pairs form ACROSS batch boundaries — the
    // checkpointed per-side queues are what's being gated. Event times are
    // unique within each side (so the (ts, event_id) oracle order and the
    // lowering's event-time fold order coincide); the trailing unpaired
    // tail stays in state, matching the oracle's inner join on k. Reuses
    // the batch q_zip_join oracle verbatim.
    "q_streaming_zip" -> ((s, dir) => {
      import s.implicits._
      import graft.plans._
      val raw = Tables.streamEventsChunked(s, dir)
      def side(t: String): Dataset[Event[Any]] =
        raw.filter(col("event_type") === t)
          .select(col("ts"), col("event_id"), col("value"))
          .as[(java.sql.Timestamp, Long, Double)]
          .map { case (ts, id, v) => Event(Some(ts), Some((id, v): Any)) }(Event.kryo)
      val g = StreamGraph(
        Vector(
          StreamVertex(0, OpSource(1), Nil, "(Long,Double)", "(Long,Double)", 1),
          StreamVertex(1, OpSource(1), Nil, "(Long,Double)", "(Long,Double)", 1),
          StreamVertex(2, OpJoin, Nil, "(Long,Double)", "((Long,Double),(Long,Double))", 1),
          StreamVertex(3, OpSink, Nil, "((Long,Double),(Long,Double))", "((Long,Double),(Long,Double))", 1)),
        Vector((0, 2), (1, 2), (2, 3)))
      val lowered = StreamingLowering.lower(
        s, g, Map(0 -> side("click"), 1 -> side("purchase")))(3)
      val typed = lowered.map { e =>
        val ((cid, cv), (pid, pv)) =
          e.value.get.asInstanceOf[((Long, Double), (Long, Double))]
        (cid, pid, cv, pv)
      }
      Gate.toParquet(
        typed.toDF("click_id", "purchase_id", "click_value", "purchase_value"),
        OutputMode.Append, "graft_stream_zip_", GateTuning.statePartitions)
    }),

    // streamFilterAcc executed THROUGH the stateful streaming lowering:
    // the reference's Source→Map→FilterAcc→Sink graph (FunctionalProcessing
    // .hs:181-186 filterAcc + Nodes.hs:52-167) lowered onto
    // flatMapGroupsWithState — the accumulator (previous event's bucket)
    // carries across the 4-file replay's micro-batch/checkpoint boundaries,
    // which is what's being gated. Clicks only (unique ts ⇒ fold order ==
    // oracle order); Map coarsens value to floor(value/25) buckets so the
    // changes-dedup actually drops consecutive repeats.
    "q_streaming_changes" -> ((s, dir) => {
      import s.implicits._
      import graft.plans._
      val g = StreamGraph.path(Seq(
        StreamVertex(0, OpSource(1), Nil, "(Long,Double)", "(Long,Double)", 1),
        StreamVertex(1, OpMap, List(Param("bucket25",
          (x: Any) => {
            val (id, v) = x.asInstanceOf[(Long, Double)]
            (id, math.floor(v / 25.0).toLong): Any
          })), "(Long,Double)", "(Long,Long)", 1),
        StreamVertex(2, OpFilterAcc(0.5), List(
          Param("keepBucket", (acc: Any, x: Any) => x.asInstanceOf[(Long, Long)]._2: Any),
          Param("initNone", null),
          Param("changed", (x: Any, acc: Any) =>
            acc == null || acc != x.asInstanceOf[(Long, Long)]._2)),
          "(Long,Long)", "(Long,Long)", 1),
        StreamVertex(3, OpSink, Nil, "(Long,Long)", "(Long,Long)", 1)))
      val lowered = StreamingLowering.lower(
        s, g, Map(0 -> loweredIdValueSource(s, dir, "click")))(3)
      val typed = lowered.map { e =>
        val (id, b) = e.value.get.asInstanceOf[(Long, Long)]
        (id, b)
      }
      Gate.toParquet(typed.toDF("event_id", "bucket"), OutputMode.Append, "graft_stream_chg_",
        GateTuning.statePartitions)
    }),

    // streamScan executed THROUGH the stateful streaming lowering
    // (FunctionalProcessing.hs:188-191 streamScan + Nodes.hs:52-167): the
    // running-sum accumulator carries across micro-batch/checkpoint
    // boundaries of the 4-file replay. Clicks only; each event emits the
    // accumulator (id, running sum so far), rounded portably on read-back.
    "q_streaming_scan" -> ((s, dir) => {
      import s.implicits._
      import graft.plans._
      val g = StreamGraph.path(Seq(
        StreamVertex(0, OpSource(1), Nil, "(Long,Double)", "(Long,Double)", 1),
        StreamVertex(1, OpScan, List(
          Param("runningSum", (acc: Any, x: Any) => {
            val (_, s0) = acc.asInstanceOf[(Long, Double)]
            val (id, v) = x.asInstanceOf[(Long, Double)]
            (id, s0 + v): Any
          }),
          Param("zero", (0L, 0.0): Any)), "(Long,Double)", "(Long,Double)", 1),
        StreamVertex(2, OpSink, Nil, "(Long,Double)", "(Long,Double)", 1)))
      val lowered = StreamingLowering.lower(
        s, g, Map(0 -> loweredIdValueSource(s, dir, "click")))(2)
      val typed = lowered.map { e =>
        val (id, sum) = e.value.get.asInstanceOf[(Long, Double)]
        (id, sum)
      }
      Gate.toParquet(typed.toDF("event_id", "sum_raw"), OutputMode.Append, "graft_stream_scan_",
        GateTuning.statePartitions)
        .select(col("event_id"), roundp(col("sum_raw"), 2).as("running_sum"))
    }),

    // Every STATELESS lowering arm in one gate — Source ×2 → Merge →
    // Map → Expand → Filter → Sink through StreamingLowering.lower
    // (completing the story: with the stateful gates above, EVERY
    // StreamingLowering operator arm now executes through the chunked
    // streaming replay under a DuckDB oracle). Merge is the unordered
    // streaming union (SURVEY §2.1's merge relaxation); Map splits each
    // value into (dollars, cents) parts, Expand flattens them, Filter
    // keeps positive parts. No state store involved — stateless arms
    // parallelize freely.
    "q_streaming_stateless" -> ((s, dir) => {
      import s.implicits._
      import graft.plans._
      val g = {
        val s0 = StreamVertex(0, OpSource(1), Nil, "(Long,Double)", "(Long,Double)", 1)
        val s1 = StreamVertex(1, OpSource(1), Nil, "(Long,Double)", "(Long,Double)", 1)
        val m = StreamVertex(2, OpMerge, Nil, "(Long,Double)", "(Long,Double)", 1)
        val mp = StreamVertex(3, OpMap, List(Param("dollarsCents",
          (x: Any) => {
            val (id, v) = x.asInstanceOf[(Long, Double)]
            List((id, 1L, math.floor(v).toLong),
                 (id, 2L, math.floor(v * 100).toLong % 100)): Any
          })), "(Long,Double)", "[(Long,Long,Long)]", 1)
        val ex = StreamVertex(4, OpExpand, Nil, "[(Long,Long,Long)]", "(Long,Long,Long)", 1)
        val f = StreamVertex(5, OpFilter(0.9), List(Param("positivePart",
          (x: Any) => x.asInstanceOf[(Long, Long, Long)]._3 > 0L)),
          "(Long,Long,Long)", "(Long,Long,Long)", 1)
        val k = StreamVertex(6, OpSink, Nil, "(Long,Long,Long)", "(Long,Long,Long)", 1)
        StreamGraph.path(Seq(s0, m, mp, ex, f, k))
          .overlay(StreamGraph.path(Seq(s1, m)))
      }
      val lowered = StreamingLowering.lower(s, g,
        Map(0 -> loweredIdValueSource(s, dir, "click"),
            1 -> loweredIdValueSource(s, dir, "purchase")))(6)
      val typed = lowered.map { e =>
        val (id, part, v) = e.value.get.asInstanceOf[(Long, Long, Long)]
        (id, part, v)
      }
      Gate.toParquet(typed.toDF("event_id", "part_idx", "part_val"),
        OutputMode.Append, "graft_stream_sl2_", GateTuning.statePartitions)
    }),

    // streamMerge (FunctionalProcessing.hs:135-144): order-preserving UNION
    // ALL of two tagged substreams (downstream event-time ops re-impose order).
    "q_merge" -> ((s, dir) => {
      val e = ev(s, dir)
      val hi = e.filter(col("value") > 90).select(col("event_id"), col("ts"), lit("hi").as("src"))
      val lo = e.filter(col("value") < 10).select(col("event_id"), col("ts"), lit("lo").as("src"))
      hi.unionByName(lo)
    }),

    // streamJoin zip (FunctionalProcessing.hs:148-155): k-th click with k-th
    // purchase, output stamped from the left.
    "q_zip_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("ts"), col("event_id").as("click_id"), col("value").as("click_value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("ts").as("r_ts"), col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      Relational.zipJoin(
          clicks, purchases,
          Seq(col("ts"), col("click_id")), Seq(col("r_ts"), col("purchase_id")))
        .select("click_id", "purchase_id", "click_value", "purchase_value")
    }),

    // streamJoinE (FunctionalProcessing.hs:161-173): tumbling-hour windows on
    // both sides, pairwise by window, cartesian within the pair restricted by
    // an equi (user) + theta (value) predicate — Catalyst executes the equi
    // part as a hash join, the theta as a post-filter.
    "q_join_e" -> ((s, dir) => {
      val e = ev(s, dir)
      val a = e.filter(col("event_type") === "click").select(
        col("ts"), col("user_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
      val b = e.filter(col("event_type") === "purchase").select(
        col("ts").as("b_ts"), col("user_id").as("b_user"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      Relational.windowedThetaJoin(a, b,
          date_trunc("hour", col("ts")), date_trunc("hour", col("b_ts")),
          equi = Seq(col("user_id") -> col("b_user")),
          theta = col("click_value") > col("purchase_value"))
        .select(col("window").as("hour"), col("user_id"), col("click_id"), col("purchase_id"))
    }),

    // streamJoinW (FunctionalProcessing.hs:175-178): window-level join — the
    // two sides' hourly windows are aggregated wholesale, then combined.
    "q_join_w" -> ((s, dir) => {
      val e = ev(s, dir)
      Relational.windowPairJoin(
          e.filter(col("event_type") === "click"),
          e.filter(col("event_type") === "purchase"),
          date_trunc("hour", col("ts")), date_trunc("hour", col("ts")),
          leftAggs = Seq(count(lit(1)).as("n_clicks")),
          rightAggs = Seq(roundp(sum(col("value")), 2).as("purchase_total")))
        .withColumnRenamed("window", "hour")
        .withColumn("per_click", roundp(col("purchase_total") / col("n_clicks"), 4))
    }),

    // sample (docs/Operators.md:123-129): 1-in-10 systematic per user.
    "q_sample" -> ((s, dir) =>
      Relational.sampleEveryN(ev(s, dir), 10, byUser, inOrder)
        .select("event_id", "user_id")),

    // stepEvent falling-edge (WearableExample.hs:83-84).
    "q_step_event" -> ((s, dir) =>
      Relational.fallingEdge(ev(s, dir), col("value"), 50.0, byUser, inOrder)
        .select("event_id", "user_id", "value")),

    // per-EVENT sliding top-k (the true taxi Q1 emission: every event
    // carries the top-k of its trailing window) via the incremental
    // SlidingTopK operator; oracle = brute-force windowed self-join.
    "q_sliding_topk" -> ((s, dir) =>
      graft.operators.SlidingTopK.perEventTopK(
        s, ev(s, dir), key = "user_id", id = "event_id", ts = "ts",
        item = "event_type", windowMs = 2L * 3600 * 1000, k = 3)),

    // topk per window (Taxi.hs:160-169 `topk` over sliding windows; here
    // exact top-3 event types per day by frequency, deterministic tiebreak).
    "q_topk_window" -> ((s, dir) => {
      val counts = ev(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      Relational.topKPerGroup(counts, 3, Seq(col("day")), Seq(col("n").desc, col("event_type")))
    }),

    // median — the reference's exact upper-middle-element median
    // (Taxi.hs:272-274), per user.
    "q_median" -> ((s, dir) =>
      ev(s, dir).groupBy(col("user_id"))
        .agg(Relational.medianUpper(col("value")).as("med"), count(lit(1)).as("n"))),

    // complete window maker (FunctionalProcessing.hs:131-132): ONE window of
    // the entire finite stream, stamped with its first element's timestamp.
    // Distributed form: a single global aggregate (map-side combined — each
    // partition collapses to one partial before the 1-row exchange).
    "q_complete" -> ((s, dir) =>
      ev(s, dir).agg(
        min(col("ts")).as("window_start"), // first element's stamp
        count(lit(1)).as("n"),
        roundp(sum(col("value")), 2).as("sum_value"))),

    // Re-stamping custom window maker (tripTimes/pebbleTimes pattern,
    // Taxi.hs:400-402, WearableExample.hs:189-190): event time re-derived
    // from the PAYLOAD (props JSON field k, seconds offset), then a tumbling
    // window over the re-stamped time. Pure column expressions — the
    // re-stamp is a projection fused into the scan.
    "q_restamp" -> ((s, dir) => {
      val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")
      ev(s, dir)
        .withColumn("ts2", timestamp_micros(unix_micros(col("ts")) + k * 1000000L))
        .groupBy(date_trunc("hour", col("ts2")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), roundp(sum(col("value")), 2).as("sum_value"))
    }),

    // streamReduce (docs/Operators.md:385-435, documented design): fold the
    // finite stream's data values with an associative combiner — here
    // "keep the event with the larger value, earliest (ts, event_id) on
    // ties". Distributed as one struct-max aggregate: the comparator is
    // encoded in struct field order, partials combine map-side, exactly the
    // shape a distributed reduce takes.
    "q_reduce" -> ((s, dir) =>
      ev(s, dir)
        .agg(max(struct(
          col("value"),
          (-unix_micros(col("ts"))).as("neg_ts"),
          (-col("event_id")).as("neg_id"),
          col("event_id").as("eid"))).as("m"))
        .select(col("m.eid").as("event_id"), roundp(col("m.value"), 2).as("value"))),

    // Wearable composite pipeline (WearableExample.hs:66-96): map(norm) →
    // filter → falling-edge filterAcc → tumbling count window.
    "q_wearable" -> ((s, dir) => {
      val signal = ev(s, dir)
        .filter(col("event_type") =!= "error")                  // vibe == 0
        .withColumn("norm", roundp(sqrt(col("value") * col("value") + 1), 4)) // ed
      val steps = Relational.fallingEdge(signal, col("norm"), 50.0, byUser, inOrder)
      steps.groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_steps"))
        .select(col("window.start").as("window_start"), col("n_steps"))
    }),

    // COMPOSED STREAMING FLAGSHIP #2 — the wearable pipeline
    // (WearableExample.hs:66-96) end-to-end in ONE streaming query: the
    // vibe filter and norm map fuse into the streaming scan; the keyed
    // falling-edge runs as filterAccByKey (one Option[norm] of state per
    // user); the emitted steps then feed a SECOND stateful operator — a
    // watermarked hourly tumbling count — in the same query (Spark 4
    // chained stateful operators: flatMapGroupsWithState → windowed agg,
    // append mode). This is the composition the 21 individual gates don't
    // prove: custom keyed state flowing into a watermark-closed window.
    // The downstream watermark advances on STEP events (the rows that
    // reach it), so the closed-window horizon is max(step ts) − 1 minute —
    // mirrored in the oracle exactly like q_streaming_taxi_q1's post-filter
    // horizon.
    "q_streaming_wearable" -> ((s, dir) => {
      import s.implicits._
      type P = (Long, Double) // (event_id, norm)
      val keyed = Tables.streamEventsChunked(s, dir)
        .filter(col("event_type") =!= "error")                  // vibe == 0
        .withColumn("norm", roundp(sqrt(col("value") * col("value") + 1), 4)) // ed
        .select(col("user_id"), col("ts"), col("event_id"), col("norm"))
        .as[(Long, java.sql.Timestamp, Long, Double)]
        .map { case (u, ts, id, n) => (u, Event(Some(ts), Some((id, n)): Option[P])) }(
          keyedEvents)
      val steps = StreamingOps.filterAccByKey[Long, P, Option[Double]](
        keyed, (_, v) => Some(v._2), None,
        (v, prev) => prev.exists(_ > 50.0) && v._2 <= 50.0)  // stepEvent
      val stepRows = steps.flatMap { case (_, e) =>
        e.value.flatMap(v => e.time.map(t => (t, v._1)))
      }.toDF("ts", "event_id")
      val counts = stepRows
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"))                   // stepCount
        .agg(count(lit(1)).as("n_steps"))
        .select(col("window.start").as("window_start"), col("n_steps"))
      Gate.toParquet(counts, OutputMode.Append, "graft_stream_wear_", GateTuning.shardedStatePartitions)
    })
  )

  val oracles: Map[String, String] = Map(
    "q_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'click' AND value > 50.0""".stripMargin,

    "q_map" ->
      """SELECT event_id, floor(value * 2 * 100 + 0.5) / 100 AS doubled,
        |       upper(event_type) AS type_u FROM events""".stripMargin,

    "q_changes" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |WHERE prev IS NULL OR prev <> event_type""".stripMargin,

    "q_scan" ->
      """SELECT event_id, user_id,
        |       floor(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100
        |         AS running_sum
        |FROM events""".stripMargin,

    "q_sliding_count" ->
      """SELECT event_id, user_id,
        |       count(*) OVER w AS win_n,
        |       floor(avg(value) OVER w * 10000 + 0.5) / 10000 AS win_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)""".stripMargin,

    "q_sliding_time" ->
      """SELECT event_id, user_id,
        |       count(*) OVER w AS n_5min,
        |       floor(sum(value) OVER w * 100 + 0.5) / 100 AS sum_5min
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN CURRENT ROW AND 299999999 FOLLOWING)""".stripMargin,

    "q_chop" ->
      """SELECT user_id, chunk_id, count(*) AS n, floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM (
        |  SELECT user_id, value,
        |         CAST(floor((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) / 10) AS BIGINT) AS chunk_id
        |  FROM events)
        |GROUP BY user_id, chunk_id""".stripMargin,

    "q_choptime_aligned" ->
      """SELECT user_id,
        |       make_timestamp(CAST(first_us + CAST(floor((epoch_us(ts) - first_us) / 21600000000) AS BIGINT) * 21600000000 AS BIGINT)) AS window_start,
        |       count(*) AS n,
        |       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM (SELECT user_id, ts, value,
        |             min(epoch_us(ts)) OVER (PARTITION BY user_id) AS first_us
        |      FROM events)
        |GROUP BY 1, 2""".stripMargin,

    "q_tumbling_1h" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n, floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // identical semantics to q_tumbling_1h — the Spark side executed
    // through readStream is what differs
    "q_streaming_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n, floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // global-anchor chopTime; the last window never closes on a finite
    // replay (no event at/after its end arrives), so it is excluded on
    // both sides
    "q_streaming_choptime" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS anchor_us, max(epoch_us(ts)) AS max_us FROM events),
        |w AS (SELECT value,
        |             CAST(floor((epoch_us(ts) - anchor_us) / 21600000000) AS BIGINT) AS k,
        |             anchor_us,
        |             CAST(floor((max_us - anchor_us) / 21600000000) AS BIGINT) AS k_last
        |      FROM events, b)
        |SELECT make_timestamp(CAST(anchor_us + k * 21600000000 AS BIGINT)) AS window_start,
        |       count(*) AS n,
        |       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM w WHERE k < k_last
        |GROUP BY 1""".stripMargin,

    "q_merge" ->
      """SELECT event_id, ts, 'hi' AS src FROM events WHERE value > 90
        |UNION ALL
        |SELECT event_id, ts, 'lo' AS src FROM events WHERE value < 10""".stripMargin,

    "q_zip_join" ->
      """WITH l AS (
        |  SELECT event_id AS click_id, value AS click_value,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'click'),
        |r AS (
        |  SELECT event_id AS purchase_id, value AS purchase_value,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id, click_value, purchase_value
        |FROM l JOIN r USING (rn)""".stripMargin,

    // consecutive 5-groups of clicks in ts order; a group emits on its own
    // 5th event, so only the trailing partial group is excluded
    "q_streaming_chop" ->
      """WITH c AS (
        |  SELECT ts, value, row_number() OVER (ORDER BY ts) AS rn
        |  FROM events WHERE event_type = 'click')
        |SELECT min(ts) AS window_start, count(*) AS n,
        |       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM c GROUP BY (rn - 1) // 5 HAVING count(*) = 5""".stripMargin,

    // per click a the window [a.ts, a.ts+6h) over clicks; a window emits
    // only once an event at/after its end has arrived, so windows whose
    // end lies beyond the last replayed click stay pending
    "q_streaming_slidingtime" ->
      """WITH c AS (
        |  SELECT ts, epoch_us(ts) AS us, value
        |  FROM events WHERE event_type = 'click'),
        |m AS (SELECT max(us) AS max_us FROM c)
        |SELECT a.ts AS window_start, count(*) AS n,
        |       floor(sum(b.value) * 100 + 0.5) / 100 AS sum_value
        |FROM c a, c b, m
        |WHERE b.us >= a.us AND b.us < a.us + 21600000000
        |  AND a.us + 21600000000 <= max_us
        |GROUP BY a.ts""".stripMargin,

    // the stats twin: identical window set, plus floor-rounded min/max
    "q_streaming_slidingtime_stats" ->
      """WITH c AS (
        |  SELECT ts, epoch_us(ts) AS us, value
        |  FROM events WHERE event_type = 'click'),
        |m AS (SELECT max(us) AS max_us FROM c)
        |SELECT a.ts AS window_start, count(*) AS n,
        |       floor(sum(b.value) * 100 + 0.5) / 100 AS sum_value,
        |       floor(min(b.value) * 100 + 0.5) / 100 AS min_value,
        |       floor(max(b.value) * 100 + 0.5) / 100 AS max_value
        |FROM c a, c b, m
        |WHERE b.us >= a.us AND b.us < a.us + 21600000000
        |  AND a.us + 21600000000 <= max_us
        |GROUP BY a.ts""".stripMargin,

    // window k = clicks k..k+4 in ts order (unique within clicks), stamped
    // from the window's FIRST event; the last n-1 starts never close.
    // WHERE after the window CTE: filtering before the frame would cut the
    // last full windows' tails out of their own sums
    "q_streaming_sliding" ->
      """WITH c AS (
        |  SELECT ts, value, row_number() OVER (ORDER BY ts) AS rn,
        |         count(*) OVER () AS total
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT ts, rn, total,
        |         count(*) OVER (ORDER BY rn ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n,
        |         sum(value) OVER (ORDER BY rn ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS s
        |  FROM c)
        |SELECT ts AS window_start, CAST(n AS BIGINT) AS n,
        |       floor(s * 100 + 0.5) / 100 AS sum_value
        |FROM w WHERE rn + 4 <= total""".stripMargin,

    // same pairing as q_zip_join — the streaming execution must reproduce
    // the batch zip exactly (ts are unique within each side, so (ts,
    // event_id) order == the lowering's event-time fold order)
    "q_streaming_zip" ->
      """WITH l AS (
        |  SELECT event_id AS click_id, value AS click_value,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'click'),
        |r AS (
        |  SELECT event_id AS purchase_id, value AS purchase_value,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id, click_value, purchase_value
        |FROM l JOIN r USING (rn)""".stripMargin,

    // the carried dropDuplicates state must yield exactly the distinct key
    // set, no re-emissions across micro-batches
    "q_streaming_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // per-user consecutive 5-groups in ts order; a group emits on its own
    // 5th event, so only each user's trailing partial group is excluded
    "q_streaming_chop_bykey" ->
      """WITH c AS (
        |  SELECT user_id, ts, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events)
        |SELECT user_id, min(ts) AS window_start, count(*) AS n,
        |       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM c GROUP BY user_id, (rn - 1) // 5 HAVING count(*) = 5""".stripMargin,

    // per-user window k = events k..k+4 in ts order, stamped from the
    // window's first event; each user's last 4 starts never close
    "q_streaming_sliding_bykey" ->
      """WITH c AS (
        |  SELECT user_id, ts, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS total
        |  FROM events),
        |w AS (
        |  SELECT user_id, ts, rn, total,
        |         count(*) OVER (PARTITION BY user_id ORDER BY rn
        |                        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n,
        |         sum(value) OVER (PARTITION BY user_id ORDER BY rn
        |                          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS s
        |  FROM c)
        |SELECT user_id, ts AS window_start, CAST(n AS BIGINT) AS n,
        |       floor(s * 100 + 0.5) / 100 AS sum_value
        |FROM w WHERE rn + 4 <= total""".stripMargin,

    // per-user window [a.ts, a.ts+6h); a window emits only once one of
    // that user's events at/after its end has arrived
    "q_streaming_slidingtime_bykey" ->
      """WITH c AS (
        |  SELECT user_id, ts, epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT user_id, max(us) AS max_us FROM c GROUP BY 1)
        |SELECT a.user_id, a.ts AS window_start, count(*) AS n,
        |       floor(sum(b.value) * 100 + 0.5) / 100 AS sum_value
        |FROM c a JOIN c b ON a.user_id = b.user_id
        |  AND b.us >= a.us AND b.us < a.us + 21600000000
        |JOIN m ON m.user_id = a.user_id
        |WHERE a.us + 21600000000 <= m.max_us
        |GROUP BY a.user_id, a.ts""".stripMargin,

    // the keyed streaming scan must reproduce the batch per-user running
    // sum exactly (same oracle as q_scan)
    "q_streaming_scan_bykey" ->
      """SELECT event_id, user_id,
        |       floor(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100
        |         AS running_sum
        |FROM events""".stripMargin,

    // the keyed streaming filterAcc must reproduce the batch per-user
    // changes-dedup exactly (same oracle as q_changes)
    "q_streaming_changes_bykey" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |WHERE prev IS NULL OR prev <> event_type""".stripMargin,

    // identical to the batch q_rolling_zscore oracle: integer emissions
    // are exact, so the streaming replay must reproduce every row
    "q_streaming_zscore" -> ExtraQueries.oracles("q_rolling_zscore"),
    // integer emissions final at arrival: replayed stream ≡ batch EWMA
    "q_streaming_ewma" -> ExtraQueries.oracles("q_ewma"),

    // the plain batch histogram: complete-mode totals after full replay
    // are the corpus totals
    "q_streaming_histogram" ->
      """SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 500 AS bin,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS min_cents,
        |       max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents
        |FROM events GROUP BY 1""".stripMargin,

    // the batch attribution window BEFORE its channel rollup: one row per
    // purchase with its last-touch channel — the streaming emission grain
    "q_streaming_attribution" ->
      """WITH a AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |         coalesce(last_value(CASE WHEN event_type <> 'purchase'
        |                                  THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           'direct') AS channel
        |  FROM events)
        |SELECT event_id, user_id, channel, cents FROM a
        |WHERE event_type = 'purchase'""".stripMargin,

    // key-disjoint chunks + one-change-per-key ⇒ the sequential merges
    // compose to exactly the batch merge — same oracle
    "q_streaming_merge" -> TextQueries.oracles("q_merge_upsert"),
    // per-query ADC results are batch-independent: replayed stream ≡ batch
    "q_streaming_knn" -> SimilarityQueries.pqAdcOracle("q.vec_id < 50"),
    // per-doc scores are pure functions of (features, static model):
    // replayed stream ≡ batch — same oracle as q_dsir
    "q_streaming_dsir" -> TextQueries.oracles("q_dsir"),

    // a candidate pair lands once, when its later doc arrives, with both
    // band sets complete — the union over batches IS the batch output
    "q_streaming_minhash" -> XxhashOracleSql.minhashLshOracle(),

    // every event re-stamped by its payload shift; the flush-sentinel
    // replay closes every real event's window (only the sentinel's stays
    // pending), so there is NO last-row exclusion — tie-proof at max(ts)
    "q_streaming_custom_window" ->
      """SELECT event_id,
        |       make_timestamp(epoch_us(ts)
        |         + CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) * 1000000) AS ts2,
        |       floor(value * 100 + 0.5) / 100 AS value
        |FROM events""".stripMargin,

    // the batch funnel CTE chain (q_funnel) unpivoted to the transition
    // log the streaming state machine emits: one row per entered stage
    "q_streaming_funnel" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_type,
        |         min(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id) AS m1
        |  FROM events),
        |y AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > m1 THEN ts END)
        |              OVER (PARTITION BY user_id) AS m2
        |  FROM x),
        |z AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > m2 THEN ts END)
        |              OVER (PARTITION BY user_id) AS m3
        |  FROM y),
        |u AS (SELECT user_id, min(m1) AS m1, min(m2) AS m2, min(m3) AS m3
        |      FROM z GROUP BY user_id)
        |SELECT user_id, 1 AS stage, m1 AS ts FROM u WHERE m1 IS NOT NULL
        |UNION ALL
        |SELECT user_id, 2 AS stage, m2 AS ts FROM u WHERE m2 IS NOT NULL
        |UNION ALL
        |SELECT user_id, 3 AS stage, m3 AS ts FROM u WHERE m3 IS NOT NULL""".stripMargin,

    // identical to the batch q_asof_join oracle: DuckDB's native ASOF
    // JOIN independently re-derives "the greatest click ts <= purchase
    // ts per user" that the streaming fold's carried state computes
    "q_streaming_asof" ->
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        |       c.event_id AS click_id, c.ts AS click_ts,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    // q_join_w's hourly window join, minus windows the final watermark
    // (max ts − 1 minute) has not passed — those stay in streaming state
    "q_streaming_join_w" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |c AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT date_trunc('hour', ts) AS h,
        |         floor(sum(value) * 100 + 0.5) / 100 AS purchase_total
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT h AS window_start, n_clicks, purchase_total
        |FROM c JOIN p USING (h), m
        |WHERE h + INTERVAL 1 HOUR <= mx - INTERVAL 1 MINUTE""".stripMargin,

    // differing-duration streamJoinW: 15-min click buckets joined to the
    // 30-min purchase bucket containing them (epoch-aligned flooring =
    // Spark's tumbling window), minus coarse windows the final watermark
    // has not passed
    "q_streaming_join_w2" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |c AS (
        |  SELECT make_timestamp(epoch_us(ts) // 900000000 * 900000000) AS w15,
        |         count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT make_timestamp(epoch_us(ts) // 1800000000 * 1800000000) AS w30,
        |         floor(sum(value) * 100 + 0.5) / 100 AS purchase_total
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT w30 AS window_start, w15 AS sub_start, n_clicks, purchase_total
        |FROM c JOIN p
        |  ON make_timestamp(epoch_us(w15) // 1800000000 * 1800000000) = w30, m
        |WHERE w30 + INTERVAL 30 MINUTE <= mx - INTERVAL 1 MINUTE""".stripMargin,

    // the buffered-state inner join must emit exactly the relational
    // interval join, no pair lost across micro-batch/watermark boundaries
    "q_streaming_interval_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts - INTERVAL 1 HOUR
        | AND b.ts <= a.ts + INTERVAL 1 HOUR""".stripMargin,

    // identical semantics to the batch q_session_window gaps-and-islands
    // oracle — the streaming merging-session state is what differs
    "q_streaming_session" ->
      """WITH d AS (
        |  SELECT user_id, ts, value, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d)
        |SELECT min(ts) AS session_start, user_id, count(*) AS n,
        |       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    // the batch session oracle restricted to sessions the final watermark
    // (max ts − 1min) provably closed: last event + 10min gap ≤ watermark.
    // Append mode emits exactly those once; open sessions stay in state.
    "q_streaming_session_append" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |d AS (
        |  SELECT user_id, ts, value, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d)
        |SELECT min(ts) AS session_start, user_id, count(*) AS n,
        |       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM sess, m GROUP BY user_id, sid, mx
        |HAVING max(ts) + INTERVAL 10 MINUTE <= mx - INTERVAL 1 MINUTE""".stripMargin,

    // the streaming window-equality theta join must reproduce the batch
    // hourly streamJoinE exactly — inner-join pairs emit as matches arrive,
    // none lost across micro-batch boundaries or evicted early
    "q_streaming_join_e" ->
      """SELECT a.hour, a.user_id, a.click_id, b.purchase_id
        |FROM (SELECT date_trunc('hour', ts) AS hour, user_id,
        |             event_id AS click_id, value AS click_value
        |      FROM events WHERE event_type = 'click') a
        |JOIN (SELECT date_trunc('hour', ts) AS hour, user_id,
        |             event_id AS purchase_id, value AS purchase_value
        |      FROM events WHERE event_type = 'purchase') b
        |  ON a.hour = b.hour AND a.user_id = b.user_id
        | AND a.click_value > b.purchase_value""".stripMargin,

    // the merged streams' parts, rebuilt relationally: dollars/cents split
    // per event, positive parts only (floor arithmetic on the same doubles)
    "q_streaming_stateless" ->
      """WITH src AS (
        |  SELECT event_id, value FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |parts AS (
        |  SELECT event_id, CAST(1 AS BIGINT) AS part_idx,
        |         CAST(floor(value) AS BIGINT) AS part_val FROM src
        |  UNION ALL
        |  SELECT event_id, CAST(2 AS BIGINT),
        |         CAST(floor(value * 100) AS BIGINT) % 100 FROM src)
        |SELECT event_id, part_idx, part_val FROM parts WHERE part_val > 0""".stripMargin,

    // the lowered FilterAcc must reproduce a global lag-based changes-dedup
    // over the click stream (ts unique within clicks == the fold order)
    "q_streaming_changes" ->
      """WITH c AS (
        |  SELECT event_id, CAST(floor(value / 25) AS BIGINT) AS b, ts
        |  FROM events WHERE event_type = 'click')
        |SELECT event_id, b AS bucket FROM (
        |  SELECT event_id, b, lag(b) OVER (ORDER BY ts) AS prev FROM c)
        |WHERE prev IS NULL OR prev <> b""".stripMargin,

    // the lowered Scan must reproduce a global running sum in ts order,
    // every prefix checked (one row per click)
    "q_streaming_scan" ->
      """SELECT event_id,
        |       floor(sum(value) OVER (ORDER BY ts
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100
        |         AS running_sum
        |FROM events WHERE event_type = 'click'""".stripMargin,

    "q_join_e" ->
      """SELECT a.hour, a.user_id, a.click_id, b.purchase_id
        |FROM (SELECT date_trunc('hour', ts) AS hour, user_id,
        |             event_id AS click_id, value AS click_value
        |      FROM events WHERE event_type = 'click') a
        |JOIN (SELECT date_trunc('hour', ts) AS hour, user_id,
        |             event_id AS purchase_id, value AS purchase_value
        |      FROM events WHERE event_type = 'purchase') b
        |  ON a.hour = b.hour AND a.user_id = b.user_id
        | AND a.click_value > b.purchase_value""".stripMargin,

    "q_join_w" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT date_trunc('hour', ts) AS hour, floor(sum(value) * 100 + 0.5) / 100 AS purchase_total
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT hour, n_clicks, purchase_total,
        |       floor(purchase_total / n_clicks * 10000 + 0.5) / 10000 AS per_click
        |FROM c JOIN p USING (hour)""".stripMargin,

    "q_sample" ->
      """SELECT event_id, user_id FROM (
        |  SELECT event_id, user_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn % 10 = 1""".stripMargin,

    "q_step_event" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value,
        |         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |WHERE prev > 50.0 AND value <= 50.0""".stripMargin,

    "q_sliding_topk" ->
      """WITH pairs AS (
        |  SELECT a.event_id, a.user_id, b.event_type, count(*) AS n
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id
        |   AND b.ts >= a.ts - INTERVAL 2 HOUR
        |   AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id <= a.event_id))
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, event_id, rank, event_type, n FROM (
        |  SELECT user_id, event_id, event_type, n,
        |         CAST(row_number() OVER (PARTITION BY event_id
        |                ORDER BY n DESC, event_type) AS INT) AS rank
        |  FROM pairs)
        |WHERE rank <= 3""".stripMargin,

    "q_topk_window" ->
      """SELECT day, event_type, n, rank FROM (
        |  SELECT day, event_type, n,
        |         CAST(row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS INT) AS rank
        |  FROM (SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
        |        FROM events GROUP BY 1, 2))
        |WHERE rank <= 3""".stripMargin,

    "q_median" ->
      """SELECT user_id,
        |       list_sort(list(value))[CAST(floor(count(*) / 2) AS INT) + 1] AS med,
        |       count(*) AS n
        |FROM events GROUP BY user_id""".stripMargin,

    "q_complete" ->
      """SELECT min(ts) AS window_start, count(*) AS n,
        |       floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM events""".stripMargin,

    "q_restamp" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         make_timestamp(epoch_us(ts)
        |           + CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) * 1000000) AS ts2
        |  FROM events)
        |SELECT date_trunc('hour', ts2) AS window_start, event_type,
        |       count(*) AS n, floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q_reduce" ->
      """SELECT event_id, floor(v * 100 + 0.5) / 100 AS value FROM (
        |  SELECT event_id, value AS v, ts FROM events
        |  ORDER BY value DESC, ts, event_id LIMIT 1)""".stripMargin,

    "q_wearable" ->
      """WITH signal AS (
        |  SELECT event_id, user_id, ts,
        |         floor(sqrt(value * value + 1) * 10000 + 0.5) / 10000 AS norm
        |  FROM events WHERE event_type <> 'error'),
        |edges AS (
        |  SELECT ts FROM (
        |    SELECT ts, norm,
        |           lag(norm) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |    FROM signal)
        |  WHERE prev > 50.0 AND norm <= 50.0)
        |SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_steps
        |FROM edges GROUP BY 1""".stripMargin,

    // the batch wearable oracle minus hourly windows the final streaming
    // watermark has not closed; the horizon is max(STEP ts) − 1 minute
    // because the downstream watermark advances on the rows that reach it
    // (the falling-edge emissions), not the raw stream
    "q_streaming_wearable" ->
      """WITH signal AS (
        |  SELECT event_id, user_id, ts,
        |         floor(sqrt(value * value + 1) * 10000 + 0.5) / 10000 AS norm
        |  FROM events WHERE event_type <> 'error'),
        |edges AS (
        |  SELECT ts FROM (
        |    SELECT ts, norm,
        |           lag(norm) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |    FROM signal)
        |  WHERE prev > 50.0 AND norm <= 50.0),
        |m AS (SELECT max(ts) AS mx FROM edges)
        |SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_steps
        |FROM edges, m
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx - INTERVAL 1 MINUTE
        |GROUP BY 1""".stripMargin
  )
}
