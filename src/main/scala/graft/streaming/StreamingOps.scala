package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Event

/** Structured Streaming surface: the reference's runtime layer
  * (`src/Striot/Nodes.hs` — sources stamping ingest time, per-node stream
  * functions, sinks) maps to `readStream` → transforms → `writeStream`;
  * the stateful operators (`streamScan`/`streamFilterAcc`) become
  * `flatMapGroupsWithState` with per-key state, and windows become
  * watermarked event-time aggregations.
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
    * to trigger boundaries. */
  def socketSource(spark: SparkSession, host: String, port: Int): DataFrame = {
    import spark.implicits._
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
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
    * a key that reappears later restarts from `init`. */
  def scanByKey[K, A, B](ds: Dataset[(K, Event[A])], f: (B, A) => B, init: B,
                         idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K], encOut: Encoder[(K, Event[B])],
      encState: Encoder[B]): Dataset[(K, Event[B])] =
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[B, (K, Event[B])](OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[A])], state: GroupState[B]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var acc = state.getOption.getOrElse(init)
            val sorted = it.map(_._2).toIndexedSeq
              .sortBy(Event.orderKey)
            val out = sorted.map { e =>
              e.value match {
                case Some(v) => acc = f(acc, v); (k, Event(e.time, Some(acc)))
                case None    => (k, Event[B](e.time, None))
              }
            }
            state.update(acc)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }

  /** Streaming `streamFilterAcc` per key (reference
    * `FunctionalProcessing.hs:181-185`): stateful filter; accumulator
    * updated on every data event, emission iff pred(value, accBefore);
    * value-less events pass. State lifetime contract as in
    * [[scanByKey]] (`idleTimeoutMs`). */
  def filterAccByKey[K, A, B](ds: Dataset[(K, Event[A])],
      accfn: (B, A) => B, init: B, pred: (A, B) => Boolean,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K], encOut: Encoder[(K, Event[A])],
      encState: Encoder[B]): Dataset[(K, Event[A])] =
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[B, (K, Event[A])](OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[A])], state: GroupState[B]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var acc = state.getOption.getOrElse(init)
            val sorted = it.map(_._2).toIndexedSeq
              .sortBy(Event.orderKey)
            val out = sorted.flatMap { e =>
              e.value match {
                case Some(v) =>
                  val keep = pred(v, acc)
                  acc = accfn(acc, v)
                  if (keep) Some((k, e)) else None
                case None => Some((k, e))
              }
            }
            state.update(acc)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }

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
    * through unenriched (payload None). */
  def asofEnrichByKey[K, A](ds: Dataset[(K, Event[A])], isRight: A => Boolean,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K], encOut: Encoder[(K, Event[(A, Option[A])])],
      encState: Encoder[Option[(Long, A)]]): Dataset[(K, Event[(A, Option[A])])] =
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Option[(Long, A)], (K, Event[(A, Option[A])])](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[A])], state: GroupState[Option[(Long, A)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // stored right as (µs ts, payload); Long.MinValue = untimed right
            var last: Option[(Long, A)] = state.getOption.getOrElse(None)
            val sorted = it.map(_._2).toIndexedSeq
              .sortBy { e =>
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
            state.update(last)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
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
    * `idleTimeoutMs` as in [[scanByKey]]. */
  def funnelByKey[K](ds: Dataset[(K, Event[String])], stages: Seq[String],
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K], encOut: Encoder[(K, Int, Long)],
      encState: Encoder[Array[Long]]): Dataset[(K, Int, Long)] = {
    require(stages.nonEmpty, "funnelByKey needs at least one stage")
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (K, Int, Long)](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[String])], state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val entered = state.getOption.getOrElse(Array.fill(stages.length)(-1L))
            val sorted = it.map(_._2).toIndexedSeq.sortBy(Event.orderKey)
            val out = scala.collection.mutable.ArrayBuffer.empty[(K, Int, Long)]
            sorted.foreach { e =>
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
            state.update(entered)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Streaming `chopTimeAligned` per key: stamp each timed event with the
    * FIRST-EVENT-aligned window start for its key (the reference's
    * chopTime alignment, `FunctionalProcessing.hs:118-129`) — the
    * streaming twin of [[graft.operators.Relational.chopTimeAligned]].
    * State per key is ONE long (the key's first event time in µs), so
    * state size is #keys × 8 bytes regardless of stream length. Downstream
    * aggregation is an ordinary `groupBy(key, window_start)`.
    *
    * Deviation inherent to streaming: an out-of-order event arriving
    * BEFORE its key's recorded first event keeps the recorded alignment
    * (it lands in a negative bucket — `floorDiv`, same as the batch
    * `floor`); an unbounded stream cannot retro-shift already-emitted
    * windows, where the batch form recomputes the true min. Untimed
    * events are dropped (no window to assign). State lifetime contract as
    * in [[scanByKey]] (`idleTimeoutMs`). */
  def chopTimeAlignedByKey[K, A](ds: Dataset[(K, Event[A])], durationMs: Long,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K],
      encOut: Encoder[(K, java.sql.Timestamp, Event[A])],
      encState: Encoder[Long]): Dataset[(K, java.sql.Timestamp, Event[A])] =
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (K, java.sql.Timestamp, Event[A])](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[A])], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val durUs = durationMs * 1000L
            var first = state.getOption.getOrElse(Long.MinValue)
            val sorted = it.map(_._2).toIndexedSeq
              .sortBy(Event.orderKey)
            val out = sorted.flatMap { e =>
              e.time.map { t =>
                // µs, not Timestamp.getTime's ms — the testdata (and the
                // batch form's unix_micros) are µs-precision
                val us = Event.micros(t)
                if (first == Long.MinValue) first = us
                val start = first + Math.floorDiv(us - first, durUs) * durUs
                val ws = new java.sql.Timestamp(Math.floorDiv(start, 1000L))
                ws.setNanos((Math.floorMod(start, 1000000L) * 1000L).toInt)
                (k, ws, e)
              }
            }
            if (first != Long.MinValue) state.update(first)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }

  /** Streaming `chop n` per key (count-tumbling windows, reference
    * `FunctionalProcessing.hs:113-116` per-key): every n data events of a
    * key become one window stamped with its first event's time; the open
    * window (≤ n−1 events, kept reversed for O(1) append) carries across
    * micro-batches in state. The trailing partial window never emits (an
    * unbounded stream never ends) — same contract as the single-group
    * lowering. Completes the keyed stateful family (scanByKey,
    * filterAccByKey, chopTimeAlignedByKey). State lifetime contract as in
    * [[scanByKey]] (`idleTimeoutMs`). */
  def chopByKey[K, A](ds: Dataset[(K, Event[A])], n: Int,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K], encOut: Encoder[(K, Event[List[A]])],
      encState: Encoder[(Int, List[Event[A]])]): Dataset[(K, Event[List[A]])] = {
    require(n >= 1, s"window size must be >= 1 (got $n)")
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, List[Event[A]]), (K, Event[List[A]])](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[A])], state: GroupState[(Int, List[Event[A]])]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (count, rev) = state.getOption.getOrElse((0, Nil: List[Event[A]]))
            val sorted = it.map(_._2).toIndexedSeq
              .sortBy(Event.orderKey)
            val out = IndexedSeq.newBuilder[(K, Event[List[A]])]
            sorted.filter(_.isData).foreach { e =>
              rev = e :: rev
              count += 1
              if (count == n) {
                val w = rev.reverse
                out += ((k, Event(w.head.time, Some(w.map(_.value.get)))))
                rev = Nil
                count = 0
              }
            }
            state.update((count, rev))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /** Streaming `sliding n` per key (count-based sliding windows, reference
    * `FunctionalProcessing.hs:93-97` per-key): per data event of a key,
    * the window of the next n events; a window emits when its n-th event
    * arrives and the FIFO queue drops its head. State per key = the last
    * ≤ n−1 data events. The trailing n−1 partial windows never emit. */
  def slidingByKey[K, A](ds: Dataset[(K, Event[A])], n: Int,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K], encOut: Encoder[(K, Event[List[A]])],
      encState: Encoder[(Int, scala.collection.immutable.Queue[Event[A]])])
      : Dataset[(K, Event[List[A]])] = {
    require(n >= 1, s"window size must be >= 1 (got $n)")
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, scala.collection.immutable.Queue[Event[A]]),
                              (K, Event[List[A]])](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[A])],
         state: GroupState[(Int, scala.collection.immutable.Queue[Event[A]])]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (count, buf) = state.getOption
              .getOrElse((0, scala.collection.immutable.Queue.empty[Event[A]]))
            val sorted = it.map(_._2).toIndexedSeq
              .sortBy(Event.orderKey)
            val out = IndexedSeq.newBuilder[(K, Event[List[A]])]
            sorted.filter(_.isData).foreach { e =>
              buf = buf.enqueue(e)
              count += 1
              if (count == n) {
                val w = buf.toList
                out += ((k, Event(w.head.time, Some(w.map(_.value.get)))))
                val (_, rest) = buf.dequeue
                buf = rest
                count -= 1
              }
            }
            state.update((count, buf))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
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
    * [[scanByKey]]. */
  def trailingStatsByKey[K](ds: Dataset[(K, Event[(Long, Long)])], lookback: Int,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K],
      encOut: Encoder[(K, Long, Long, Long, Long, Long)],
      encState: Encoder[scala.collection.immutable.Queue[Long]])
      : Dataset[(K, Long, Long, Long, Long, Long)] = {
    require(lookback >= 1, s"lookback must be >= 1 (got $lookback)")
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[scala.collection.immutable.Queue[Long],
                              (K, Long, Long, Long, Long, Long)](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[(Long, Long)])],
         state: GroupState[scala.collection.immutable.Queue[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var buf = state.getOption
              .getOrElse(scala.collection.immutable.Queue.empty[Long])
            val sorted = it.map(_._2).toIndexedSeq
              .collect { case e if e.time.isDefined && e.value.isDefined =>
                (Event.micros(e.time.get), e.value.get._1, e.value.get._2) }
              .sortBy(t => (t._1, t._2))
            val out = sorted.map { case (_, id, v) =>
              buf = buf.enqueue(v)
              if (buf.length > lookback) buf = buf.dequeue._2
              var s = 0L; var q = 0L
              buf.foreach { x => s += x; q += x * x }
              (k, id, v, buf.length.toLong, s, q)
            }
            state.update(buf)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
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
    * oracle. */
  def ewmaByKey[K](ds: Dataset[(K, Event[(Long, Long)])], lookback: Int,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K],
      encOut: Encoder[(K, Long, Long, Long, Int)],
      encState: Encoder[scala.collection.immutable.Queue[Long]])
      : Dataset[(K, Long, Long, Long, Int)] = {
    require(lookback >= 1 && lookback <= 62,
      s"lookback must be in 1..62 (got $lookback): weights are 2^i longs")
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[scala.collection.immutable.Queue[Long],
                              (K, Long, Long, Long, Int)](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[(Long, Long)])],
         state: GroupState[scala.collection.immutable.Queue[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var buf = state.getOption
              .getOrElse(scala.collection.immutable.Queue.empty[Long])
            val sorted = it.map(_._2).toIndexedSeq
              .collect { case e if e.time.isDefined && e.value.isDefined =>
                (Event.micros(e.time.get), e.value.get._1, e.value.get._2) }
              .sortBy(t => (t._1, t._2))
            val out = sorted.map { case (_, id, v) =>
              buf = buf.enqueue(v)
              if (buf.length > lookback) buf = buf.dequeue._2
              // newest value carries weight 2^(lookback-1); older values
              // halve per step — identical to the batch lag-term weights
              var num = 0L
              var w = 1L << (lookback - buf.length)
              buf.foreach { x => num += x * w; w <<= 1 }
              (k, id, v, num, buf.length)
            }
            state.update(buf)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

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
    * hash-matches the batch oracle row-for-row. */
  def attributeByKey[K](ds: Dataset[(K, Event[(Long, String, Long)])],
      creditType: String, defaultChannel: String,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K],
      encOut: Encoder[(K, Long, String, Long)])
      : Dataset[(K, Long, String, Long)] = {
    implicit val encState: Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[String, (K, Long, String, Long)](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[(Long, String, Long)])],
         state: GroupState[String]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var channel = state.getOption.getOrElse(defaultChannel)
            val sorted = it.map(_._2).toIndexedSeq
              .collect { case e if e.time.isDefined && e.value.isDefined =>
                (Event.micros(e.time.get), e.value.get) }
              .sortBy(t => (t._1, t._2._1))
            val out = sorted.flatMap { case (_, (id, ch, cents)) =>
              if (ch == creditType) Some((k, id, channel, cents))
              else { channel = ch; None }
            }
            state.update(channel)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Streaming `slidingTime ms` per key (reference
    * `FunctionalProcessing.hs:99-108` per-key): per timed event e of a
    * key, the window [e.time, e.time+ms); e's window closes when the
    * first event of that key at/after e.time+ms arrives. State per key =
    * the FIFO queue of events still inside some pending window —
    * O(window), not O(history). Windows whose end lies beyond the key's
    * last event never close. Untimed events are dropped (no window to
    * anchor). */
  def slidingTimeByKey[K, A](ds: Dataset[(K, Event[A])], ms: Long,
      idleTimeoutMs: Option[Long] = None)(
      implicit encK: Encoder[K], encOut: Encoder[(K, Event[List[A]])],
      encState: Encoder[scala.collection.immutable.Queue[Event[A]]])
      : Dataset[(K, Event[List[A]])] = {
    require(ms >= 1, s"window duration must be >= 1 ms (got $ms)")
    val msUs = ms * 1000L
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[scala.collection.immutable.Queue[Event[A]],
                              (K, Event[List[A]])](
        OutputMode.Append, timeoutConf(idleTimeoutMs)) {
        (k: K, it: Iterator[(K, Event[A])],
         state: GroupState[scala.collection.immutable.Queue[Event[A]]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // Time-ordered vector with two ADVANCING indices instead of a
            // Queue rescanned per close: `i` anchors the oldest pending
            // window, `j` is its exclusive window-end bound. Both ends are
            // nondecreasing (anchor times ascend, so end = anchor + ms
            // ascends too), so each close costs O(emitted window) with no
            // re-scan of the shared prefix — a dense same-key burst of w
            // events closes in O(total output), where the Queue form paid
            // an extra O(w) per close re-walking (and re-reversing) the
            // buffer: quadratic on hot keys.
            var vec = state.getOption
              .getOrElse(scala.collection.immutable.Queue.empty[Event[A]])
              .toVector
            var i = 0
            var j = 0
            val sorted = it.map(_._2).toIndexedSeq.sortBy(Event.orderKey)
            val out = IndexedSeq.newBuilder[(K, Event[List[A]])]
            sorted.filter(_.isTimed).foreach { e =>
              val t = Event.micros(e.time.get)
              while (i < vec.length && Event.micros(vec(i).time.get) + msUs <= t) {
                val end = Event.micros(vec(i).time.get) + msUs
                if (j <= i) j = i // the window always contains its anchor
                while (j < vec.length && Event.micros(vec(j).time.get) < end) j += 1
                val w = vec.slice(i, j)
                out += ((k, Event(w.head.time, Some(w.filter(_.isData).map(_.value.get).toList))))
                i += 1
              }
              vec = vec :+ e
            }
            state.update(scala.collection.immutable.Queue.from(vec.drop(i)))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  private def timeoutConf(idleTimeoutMs: Option[Long]): GroupStateTimeout =
    if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

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
