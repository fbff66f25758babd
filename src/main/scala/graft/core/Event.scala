package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.{Encoder, Encoders}

/** The atom of a stream: an optional event-time plus an optional payload.
  *
  * Mirrors the reference's `Event alpha` (optional timestamp, optional
  * value; either may be absent — a pure time-tick, a pure datum, or both),
  * see reference `src/Striot/FunctionalIoTtypes.hs:23-30`.
  *
  * Spark representation: a case class row `struct<time: timestamp,
  * value: A>` with both fields nullable (`Option`), encoded with the
  * standard product encoder so Catalyst sees the full structure.
  */
case class Event[A](time: Option[Timestamp], value: Option[A]) {
  /** Event carries a payload (reference `dataEvent`). */
  def isData: Boolean = value.isDefined
  /** Event carries a timestamp (reference `timedEvent`). */
  def isTimed: Boolean = time.isDefined
}

object Event {
  /** The row encoding of an event whose payload Spark cannot see: the whole
    * event kryo-encoded in one binary column. A lowered graph's rows and a
    * keyed operator's event column ([[graft.streaming.StreamingOps.keyedEvents]])
    * are these. */
  val kryo: Encoder[Event[Any]] = Encoders.kryo[Event[Any]]

  def data[A](t: Long, v: A): Event[A] = Event(Some(new Timestamp(t)), Some(v))
  def dataOnly[A](v: A): Event[A] = Event(None, Some(v))
  def tick[A](t: Long): Event[A] = Event(Some(new Timestamp(t)), None)

  /** Epoch MICROSECONDS of a timestamp. Ordering events by
    * `Timestamp.getTime` (milliseconds) silently merges microsecond-distinct
    * events into ties — the testdata (and Spark's TimestampType) is
    * microsecond-granular, so every event-order-sensitive fold must sort by
    * this, not getTime. */
  def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Inverse of [[micros]]: a µs-precise Timestamp. Re-stamping through
    * `new Timestamp(getTime + delta)` silently drops the µs fraction
    * (getTime is ms; nanos live in a separate field) — payload-derived
    * re-stamping (the reference's `tripTimes` idiom) must round-trip
    * through this instead. */
  def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** THE stream-order sort key, shared by every order-sensitive fold
    * (batch lowering, streaming lowering, keyed streaming ops, typed
    * monoid scan): event time in µs, equal-time events tiebroken by a
    * run-stable content hash ([[StableHash]] — shuffle arrival order is
    * nondeterministic, so a bare time key would make equal-time folds
    * flap), untimed events all at (MinValue, 0) so a stable sort keeps
    * their arrival order. One definition — a precision or tiebreak change
    * here reaches every fold at once (the round-7 ms→µs bug existed
    * because this key lived in three hand-maintained copies). */
  def orderKey(e: Event[_]): (Long, Int) = e.time match {
    case Some(t) => (micros(t), e.value.map(StableHash(_)).getOrElse(0))
    case None    => (Long.MinValue, 0)
  }
}
