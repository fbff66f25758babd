package graft.streaming

import scala.collection.immutable.Queue

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.core.Event
import graft.plans.StreamingLowering

/** Structured Streaming surface: the reference's runtime layer
  * (`src/Striot/Nodes.hs` — sources stamping ingest time, per-node stream
  * functions, sinks) maps to `readStream` → transforms → `writeStream`;
  * the stateful operators (`streamScan`/`streamFilterAcc`, the window
  * makers) run per key, and windows over columns become watermarked
  * event-time aggregations.
  *
  * The keyed stateful operators (`*ByKey`) share their semantics and
  * their runner with the lowered graphs: `scanByKey`, `filterAccByKey`,
  * `chopByKey`, `slidingByKey` and `slidingTimeByKey` call
  * [[graft.plans.StreamingLowering]]'s step for the operator on each
  * key's events, and every keyed operator runs on
  * [[graft.plans.StreamingLowering.runStateful]], the one
  * `flatMapGroupsWithState` call. A fix to an operator's step reaches
  * both surfaces.
  *
  * A keyed operator asks only for its key's `Encoder[K]`. The output and
  * state types follow from the operator, so it builds their encoders
  * itself: events travel as [[keyedEvents]] rows (the key, then the
  * kryo-encoded event), flat outputs as primitive tuples after the key,
  * and state in the layout noted on each operator. `scanByKey` and
  * `filterAccByKey` store a caller-typed accumulator kryo-encoded, as the
  * lowered graphs store their state slots.
  *
  * The reference has NO watermarks (lazy lists close windows when the next
  * element arrives) and assumes time order; in streaming mode the window
  * aggregates take a caller-chosen watermark for state cleanup, the keyed
  * stateful operators take an optional processing-time idle timeout (an
  * accumulator has no window to expire with — by default it lives forever,
  * exactly the reference's semantics; pass a timeout to bound state for
  * keys that go quiet), and events are ordered within each micro-batch by
  * event time. The batch API ([[graft.core.StreamOps]]) remains the
  * exact-parity surface.
  */
object StreamingOps {

  /** Rate source stamped like `readListFromSource` (reference
    * `Nodes.hs:309-319`: each element stamped with ingest time). */
  def rateSource(spark: SparkSession, eventsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", eventsPerSecond.toString).load()
      .select(col("timestamp").as("time"), col("value"))

  /** Socket text source (the reference's TCP ingest analog,
    * `Nodes/TCP.hs`), stamped PER ROW at ingest like the reference's
    * per-element `getCurrentTime` (`Nodes.hs:309-319`) — a
    * `current_timestamp()` column would pin every row of a micro-batch to
    * the single batch timestamp, quantizing downstream event-time windows
    * to trigger boundaries.
    *
    * One partition per micro-batch: one TCP connection is one stream,
    * and Spark's socket source deals its lines round-robin into
    * `defaultParallelism` slices that a single-group state machine would
    * only shuffle back together. The partition holds the slices one after
    * another, not in arrival order; downstream state machines re-sort by
    * event time. Over this `SinglePartition` input, a state operator at
    * [[GateTuning.statePartitions]] needs no exchange, so a trigger runs
    * as one stage of one task. */
  def socketSource(spark: SparkSession, host: String, port: Int): DataFrame = {
    import spark.implicits._
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .coalesce(1)
      .as[String]
      .map(v => (new java.sql.Timestamp(System.currentTimeMillis()), v))
      .toDF("time", "value")
  }

  /** Kafka source (reference `Nodes/Kafka.hs:24-119`, `offsetReset
    * Earliest`). */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest").load()

  /** Tumbling event-time window aggregate (streaming `chopTime` analog;
    * epoch-aligned like the relational formulation). */
  def tumblingAgg(df: DataFrame, tsName: String, duration: String, watermark: String,
                  keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsName, watermark)
      .groupBy(window(col(tsName), duration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session event-time window aggregate: per-key sessions closed by a
    * `gap` of inactivity (beyond the reference, whose window makers are
    * count/fixed-duration only — the streaming twin of the batch
    * `q_session_window` gaps-and-islands formulation). State per open
    * session is the partial aggregate; the watermark closes and emits
    * sessions whose gap has provably passed. */
  def sessionAgg(df: DataFrame, tsName: String, gap: String, watermark: String,
                 keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsName, watermark)
      .groupBy(session_window(col(tsName), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Stream-static enrichment: join each streaming row to a static
    * dimension snapshot on `key`. The static side is explicitly broadcast —
    * per micro-batch this is a map-side hash probe with NO shuffle of the
    * stream, the only sane plan when the stream is the 100 TB side. */
  def staticEnrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact deduplication: drop rows whose key columns repeat
    * within the watermark horizon — the streaming form of the batch
    * content-hash dedup (state per distinct key is bounded by the
    * watermark, so it never grows with stream length; an unbounded-state
    * `dropDuplicates` would OOM on an infinite stream). */
  def dedupeStream(df: DataFrame, tsName: String, watermark: String,
                   keys: Seq[String]): DataFrame =
    df.withWatermark(tsName, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** A keyed event row: the key through its encoder, the event
    * kryo-encoded. Every keyed operator reads these rows, and the ones
    * that emit events emit them. */
  def keyedEvents[K, A](implicit encK: Encoder[K]): Encoder[(K, Event[A])] =
    Encoders.tuple(encK, Event.kryo.asInstanceOf[Encoder[Event[A]]]) // kryo sees only the erased class

  /** A caller-typed state, kryo-encoded as `Any`, the encoding of the
    * lowered graphs' state slots. `Encoders.kryo[S]` would reject a
    * primitive `S` such as `Double`; through `Any` it is boxed. */
  private def kryoState[S]: Encoder[S] = Encoders.kryo[Any].asInstanceOf[Encoder[S]]

  /** A keyed operator on [[StreamingLowering.runStateful]]: each key's
    * events of a micro-batch, its typed state (`init` before the key's
    * first batch) stored through `encS`, and its outputs tagged with the
    * key, encoded by `encO`. */
  private def byKey[K, A, S, O](ds: Dataset[(K, Event[A])], init: S, idleTimeoutMs: Option[Long],
      encS: Encoder[S], encO: Encoder[O])(f: (K, S, Iterator[Event[A]]) => (Iterable[O], S))(
      implicit encK: Encoder[K]): Dataset[O] =
    StreamingLowering.runStateful[(K, Event[A]), K, S, O](ds, _._1, init, idleTimeoutMs) {
      (k, s, it) => f(k, s, it.map(_._2))
    }(encK, encS, encO)

  /** A stateful operator's step — the one the lowered graphs run — per
    * key, over the key's events in [[Event.orderKey]] order; its output
    * events leave as [[keyedEvents]] rows. */
  private def stepByKey[K: Encoder, A, S, O](ds: Dataset[(K, Event[A])], init: S,
      idleTimeoutMs: Option[Long], encS: Encoder[S])(
      step: StreamingLowering.StepOf[A, Event[O], S]): Dataset[(K, Event[O])] =
    byKey(ds, init, idleTimeoutMs, encS, keyedEvents[K, O]) { (k, s, it) =>
      val (out, next) = step(StreamingLowering.inStreamOrder(it.toIndexedSeq), s)
      (out.map(o => (k, o)), next)
    }

  /** Streaming `streamScan` per key (reference
    * `FunctionalProcessing.hs:188-191`): running fold with state in
    * `flatMapGroupsWithState`; events within each micro-batch are folded
    * in [[Event.orderKey]] order (µs time, stable content-hash tiebreak —
    * shuffle arrival order must not leak into the fold). Value-less
    * events pass through without updating state.
    *
    * Memory note: the per-key sort buffers one key's events from ONE
    * micro-batch (bounded by the trigger's batch size via
    * maxOffsetsPerTrigger/maxFilesPerTrigger), never the key's history —
    * kept state is only the accumulator. The batch-mode analogs
    * ([[graft.core.StreamOps.KeyedStream]]) use secondary sort instead.
    *
    * State lifetime: an accumulator never expires by default (the
    * reference's semantics — `idleTimeoutMs = None` keeps state per key
    * forever, which on a stream with unbounded key cardinality grows the
    * state store without bound). Pass `idleTimeoutMs` to evict state for
    * keys idle (no new events, processing time) longer than the horizon;
    * a key that reappears later restarts from `init`. A `null`
    * accumulator is stored as no state, which the next batch reads as
    * `init` again.
    *
    * State: the accumulator, kryo-encoded. */
  def scanByKey[K: Encoder, A, B](ds: Dataset[(K, Event[A])], f: (B, A) => B, init: B,
                                  idleTimeoutMs: Option[Long] = None): Dataset[(K, Event[B])] =
    stepByKey(ds, init, idleTimeoutMs, kryoState[B])(StreamingLowering.scanStep(f))

  /** Streaming `streamFilterAcc` per key (reference
    * `FunctionalProcessing.hs:181-185`): stateful filter; accumulator
    * updated on every data event, emission iff pred(value, accBefore);
    * value-less events pass. State lifetime and layout as in
    * [[scanByKey]]. */
  def filterAccByKey[K: Encoder, A, B](ds: Dataset[(K, Event[A])],
      accfn: (B, A) => B, init: B, pred: (A, B) => Boolean,
      idleTimeoutMs: Option[Long] = None): Dataset[(K, Event[A])] =
    stepByKey(ds, init, idleTimeoutMs, kryoState[B])(StreamingLowering.filterAccStep(accfn, pred))

  /** Streaming as-of enrichment per key — the streaming twin of
    * [[graft.operators.Relational.asofJoin]] (engine primitive absent
    * from the reference, SURVEY §2.6): right-side events update the
    * per-key "most recent right" state and emit nothing; left-side
    * events emit enriched with that state (None until a right has been
    * seen — filter for inner semantics). Within a micro-batch events
    * fold with RIGHTS BEFORE LEFTS at the same microsecond — exactly the
    * batch operator's `__side` ordering, so "at-or-before" includes an
    * equal-timestamp right. Across micro-batches the state carries, so a
    * left sees rights from any earlier batch.
    *
    * The at-or-before contract is enforced against out-of-order arrival
    * ACROSS micro-batches, not just assumed: state stores `(ts, payload)`
    * and a right arriving in a later batch with an OLDER timestamp than
    * the stored right does NOT regress it; a left whose timestamp
    * precedes the stored right's timestamp enriches to None rather than
    * with a future-timestamp right. (Single-payload state cannot recover
    * the true at-or-before right for such a straggler left — the batch
    * [[graft.operators.Relational.asofJoin]] is the exact form; this is
    * the bounded-state streaming trade.) Untimed rights only seed EMPTY
    * state; untimed lefts enrich with whatever is stored (no event time,
    * so at-or-before is vacuous). State is ONE `(ts, right)` per key —
    * bounded regardless of stream length; `idleTimeoutMs` evicts idle
    * keys ([[scanByKey]]'s lifetime contract). Value-less events pass
    * through unenriched (payload None). State: `Option[(Long, A)]`,
    * kryo-encoded. */
  def asofEnrichByKey[K: Encoder, A](ds: Dataset[(K, Event[A])], isRight: A => Boolean,
      idleTimeoutMs: Option[Long] = None): Dataset[(K, Event[(A, Option[A])])] =
    byKey(ds, None: Option[(Long, A)], idleTimeoutMs,
        Encoders.kryo[Option[(Long, A)]], keyedEvents[K, (A, Option[A])]) { (k, stored, it) =>
      // stored right as (µs ts, payload); Long.MinValue = untimed right
      var last = stored
      val sorted = it.toIndexedSeq.sortBy { e =>
        val (t, h) = Event.orderKey(e)
        (t, if (e.value.exists(isRight)) 0 else 1, h)
      }
      val out = sorted.flatMap { e =>
        val us = e.time.map(Event.micros).getOrElse(Long.MinValue)
        e.value match {
          case Some(v) if isRight(v) =>
            // never regress: an older-ts right from a later batch loses
            if (last.forall(_._1 <= us)) last = Some((us, v))
            None
          case Some(v) =>
            // a straggler left older than the stored right must not see
            // a future right; untimed lefts (us = MinValue vs untimed
            // right's MinValue) still enrich — <= keeps both contracts
            val atOrBefore =
              last.filter { case (rts, _) => rts <= (if (e.time.isDefined) us else Long.MaxValue) }
            Some((k, Event(e.time, Some((v, atOrBefore.map(_._2))))))
          case None => Some((k, Event[(A, Option[A])](e.time, None)))
        }
      }
      (out, last)
    }

  /** Streaming ordered funnel per key — the incremental twin of
    * [[graft.operators.Relational.funnelStages]]: state is the per-stage
    * entry times (µs; −1 = not entered, N longs per key regardless of
    * stream length) and each advancement emits ONE `(key, stage, µs)`
    * transition — an append-only log whose rows are final the moment
    * they're emitted (no window to close). An event advances its key iff
    * it matches the next unentered stage's name and is strictly later
    * than the previous stage's entry; on a time-ordered replay this
    * greedy online rule reaches exactly the batch operator's stage
    * minima, so the emitted log unpivots to `funnelStages`' m1..mN (the
    * q_streaming_funnel gate's oracle). Untimed or value-less events
    * cannot advance a funnel (nothing to order on) and are dropped.
    * `idleTimeoutMs` as in [[scanByKey]]. State: an `Array[Long]` column. */
  def funnelByKey[K](ds: Dataset[(K, Event[String])], stages: Seq[String],
      idleTimeoutMs: Option[Long] = None)(implicit encK: Encoder[K]): Dataset[(K, Int, Long)] = {
    require(stages.nonEmpty, "funnelByKey needs at least one stage")
    byKey(ds, Array.fill(stages.length)(-1L), idleTimeoutMs, ExpressionEncoder[Array[Long]](),
        Encoders.tuple(encK, Encoders.scalaInt, Encoders.scalaLong)) { (k, stored, it) =>
      // a copy: `init` is one array shared by every key of the task
      val entered = stored.clone()
      val out = scala.collection.mutable.ArrayBuffer.empty[(K, Int, Long)]
      it.toIndexedSeq.sortBy(Event.orderKey).foreach { e =>
        (e.time, e.value) match {
          case (Some(t), Some(v)) =>
            val us = Event.micros(t)
            val i = stages.indexOf(v)
            if (i >= 0 && entered(i) < 0 &&
                (i == 0 || (entered(i - 1) >= 0 && us > entered(i - 1)))) {
              entered(i) = us
              out += ((k, i + 1, us))
            }
          case _ => ()
        }
      }
      (out, entered)
    }
  }

  /** Streaming `chop n` per key (count-tumbling windows, reference
    * `FunctionalProcessing.hs:113-116` per-key): every n data events of a
    * key become one window stamped with its first event's time; the open
    * window carries across micro-batches in state. The trailing partial
    * window never emits (an unbounded stream never ends). The lowered
    * graphs' chop step, per key. State lifetime contract as in
    * [[scanByKey]] (`idleTimeoutMs`). State: the open window's count and
    * events, kryo-encoded. */
  def chopByKey[K: Encoder, A](ds: Dataset[(K, Event[A])], n: Int,
      idleTimeoutMs: Option[Long] = None): Dataset[(K, Event[List[A]])] = {
    require(n >= 1, s"window size must be >= 1 (got $n)")
    stepByKey(ds, (0, Nil: List[Event[A]]), idleTimeoutMs, Encoders.kryo[(Int, List[Event[A]])])(
      StreamingLowering.chopStep(n, StreamingLowering.windowEvents[A]))
  }

  /** Streaming `sliding n` per key (count-based sliding windows, reference
    * `FunctionalProcessing.hs:93-97` per-key): per data event of a key,
    * the window of the next n events; a window emits when its n-th event
    * arrives. State per key = the last ≤ n−1 data events. The trailing
    * n−1 partial windows never emit. The lowered graphs' sliding step,
    * per key. State: the count and the queue, kryo-encoded. */
  def slidingByKey[K: Encoder, A](ds: Dataset[(K, Event[A])], n: Int,
      idleTimeoutMs: Option[Long] = None): Dataset[(K, Event[List[A]])] = {
    require(n >= 1, s"window size must be >= 1 (got $n)")
    stepByKey(ds, (0, Queue.empty[Event[A]]), idleTimeoutMs, Encoders.kryo[(Int, Queue[Event[A]])])(
      StreamingLowering.slidingStep(n, StreamingLowering.windowEvents[A]))
  }

  /** Streaming trailing-window integer stats per key — the incremental
    * twin of the batch rolling z-score window (`q_rolling_zscore`'s
    * `ROWS BETWEEN lookback−1 PRECEDING AND CURRENT ROW`): per timed data
    * event `(id, v)`, emits `(key, id, v, n, s, q)` where n/s/q are the
    * count/sum/sum-of-squares of the trailing `lookback` values INCLUDING
    * the event — PARTIAL leading windows emit too, unlike [[slidingByKey]]
    * (whose reference `sliding n` semantics emit full windows only).
    * All-integer state and sums, so emissions are exact and final at
    * arrival (no watermark); state is a FIFO of ≤ lookback−1 longs per
    * key. Within a micro-batch events fold in (time, id) order — exactly
    * the batch window's (ts, event_id) ordering, so on an in-order replay
    * the emitted stats hash-match the batch oracle. Untimed or value-less
    * events are dropped (no window position). `idleTimeoutMs` as in
    * [[scanByKey]]. State: the FIFO, kryo-encoded. */
  def trailingStatsByKey[K](ds: Dataset[(K, Event[(Long, Long)])], lookback: Int,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K]): Dataset[(K, Long, Long, Long, Long, Long)] = {
    require(lookback >= 1, s"lookback must be >= 1 (got $lookback)")
    val long = Encoders.scalaLong
    val encOut = Bridge.tuple[(K, Long, Long, Long, Long, Long)](encK, long, long, long, long, long)
    byKey(ds, Queue.empty[Long], idleTimeoutMs, Encoders.kryo[Queue[Long]], encOut) { (k, stored, it) =>
      var buf = stored
      val out = timedById(it).map { case (id, v) =>
        buf = buf.enqueue(v)
        if (buf.length > lookback) buf = buf.dequeue._2
        var s = 0L; var q = 0L
        buf.foreach { x => s += x; q += x * x }
        (k, id, v, buf.length.toLong, s, q)
      }
      (out, buf)
    }
  }

  /** Streaming binary-weighted trailing fold per key — the incremental
    * twin of the batch EWMA query (`q_ewma`, α = 1/2 as the unnormalized
    * integer prefix Σ_{i<lookback} v_{t−i}·2^(lookback−1−i)): per timed
    * data event `(id, v)`, emits `(key, id, v, ewma_num, n_terms)` where
    * `ewma_num` is the weighted sum over the trailing `lookback` values
    * INCLUDING the event (newest gets the largest weight) and `n_terms`
    * the count actually present. All-integer arithmetic, so emissions are
    * exact and final at arrival (no watermark); state is a FIFO of
    * ≤ lookback−1 longs per key, O(lookback) work per event. The batch
    * window's (ts, event_id) ordering is reproduced by the per-batch
    * (time, id) sort, so an in-order replay hash-matches the batch
    * oracle. State: the FIFO, kryo-encoded. */
  def ewmaByKey[K](ds: Dataset[(K, Event[(Long, Long)])], lookback: Int,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K]): Dataset[(K, Long, Long, Long, Int)] = {
    require(lookback >= 1 && lookback <= 62,
      s"lookback must be in 1..62 (got $lookback): weights are 2^i longs")
    val long = Encoders.scalaLong
    val encOut = Encoders.tuple(encK, long, long, long, Encoders.scalaInt)
    byKey(ds, Queue.empty[Long], idleTimeoutMs, Encoders.kryo[Queue[Long]], encOut) { (k, stored, it) =>
      var buf = stored
      val out = timedById(it).map { case (id, v) =>
        buf = buf.enqueue(v)
        if (buf.length > lookback) buf = buf.dequeue._2
        // newest value carries weight 2^(lookback-1); older values
        // halve per step — identical to the batch lag-term weights
        var num = 0L
        var w = 1L << (lookback - buf.length)
        buf.foreach { x => num += x * w; w <<= 1 }
        (k, id, v, num, buf.length)
      }
      (out, buf)
    }
  }

  /** A key's timed data events `(id, payload)` in (time, id) order — the
    * batch windows' (ts, event_id) ordering. */
  private def timedById[P](it: Iterator[Event[(Long, P)]]): IndexedSeq[(Long, P)] =
    it.collect { case Event(Some(t), Some(p)) => (Event.micros(t), p) }
      .toIndexedSeq.sortBy { case (us, (id, _)) => (us, id) }.map(_._2)

  /** Streaming last-touch attribution (the online form of the batch
    * q_attribution window): per timed event `(id, channel, cents)`, a
    * CREDIT event (`channel == creditType`) emits `(key, id, attributed
    * channel, cents)` where the attributed channel is the key's most
    * recent non-credit channel (`defaultChannel` when none yet); any
    * other event just becomes the new carried channel. State is ONE
    * string per key — O(1), the cheapest possible keyed-state footprint,
    * so an unbounded stream holds |active keys| strings total (and the
    * idle timeout can evict even those). Emissions are exact and final
    * at arrival — no watermark, no retraction; the per-batch (time, id)
    * sort reproduces the batch window's ordering, so an in-order replay
    * hash-matches the batch oracle row-for-row. State: a string column. */
  def attributeByKey[K](ds: Dataset[(K, Event[(Long, String, Long)])],
      creditType: String, defaultChannel: String,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K]): Dataset[(K, Long, String, Long)] = {
    val encOut = Encoders.tuple(encK, Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)
    byKey(ds, defaultChannel, idleTimeoutMs, Encoders.STRING, encOut) { (k, stored, it) =>
      var channel = stored
      val sorted = it.collect { case Event(Some(t), Some(p)) => (Event.micros(t), p) }
        .toIndexedSeq.sortBy(t => (t._1, t._2._1))
      val out = sorted.flatMap { case (_, (id, ch, cents)) =>
        if (ch == creditType) Some((k, id, channel, cents))
        else { channel = ch; None }
      }
      (out, channel)
    }
  }

  /** Streaming `slidingTime ms` per key (reference
    * `FunctionalProcessing.hs:99-108` per-key): per timed event e of a
    * key, the window [e.time, e.time+ms); e's window closes when the
    * first event of that key at/after e.time+ms arrives. State per key =
    * the FIFO queue of events still inside some pending window —
    * O(window), not O(history). Windows whose end lies beyond the key's
    * last event never close. Untimed events are dropped (no window to
    * anchor). The lowered graphs' slidingTime step, per key: under late
    * data across micro-batches a window is the pending prefix before the
    * first event at/after its end. State: the queue, kryo-encoded. */
  def slidingTimeByKey[K: Encoder, A](ds: Dataset[(K, Event[A])], ms: Long,
      idleTimeoutMs: Option[Long] = None): Dataset[(K, Event[List[A]])] = {
    require(ms >= 1, s"window duration must be >= 1 ms (got $ms)")
    stepByKey(ds, Queue.empty[Event[A]], idleTimeoutMs, Encoders.kryo[Queue[Event[A]]])(
      StreamingLowering.slidingTimeStep(ms, StreamingLowering.windowEvents[A]))
  }

  /** Kafka producer sink (reference `sendStreamKafka`,
    * `Nodes/Kafka.hs:24-119`): serialize a value column to the topic.
    * Returns the configured writer; caller `.start()`s it (needs a broker —
    * env-gated in tests, like the consumer). */
  def kafkaSink(df: DataFrame, servers: String, topic: String, checkpointDir: String) =
    df.selectExpr("CAST(value AS STRING) AS value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)

  /** Batch Kafka producer (the reference's sink used from a finite replay):
    * one-shot write of a value column to the topic. */
  def kafkaWriteBatch(df: DataFrame, servers: String, topic: String): Unit =
    df.selectExpr("CAST(value AS STRING) AS value")
      .write.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .save()

  /** Memory sink for tests/debug: returns the started query. */
  def memorySink(df: DataFrame, name: String, mode: String = "append") =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()
}
