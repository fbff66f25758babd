package graft.core

import graft.SparkSuite
import graft.core.StreamOps._

/** Semantics tests for the eight operators, mirroring the reference's
  * behavior (`/root/reference/src/Striot/FunctionalProcessing.hs`):
  * value-less pass-through, window stamping, merge order, zip-join. */
class StreamOpsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(i: Long) = new java.sql.Timestamp(1700000000000L + i)

  private val mixed: Seq[Event[Int]] = Seq(
    Event(Some(ts(0)), Some(1)),
    Event(Some(ts(10)), None), // pure time-tick
    Event(Some(ts(20)), Some(7)),
    Event(None, Some(3)),      // untimed datum
    Event(Some(ts(30)), Some(8)))

  test("streamFilter keeps passing values and value-less events") {
    val out = mixed.toDS.streamFilter(_ > 5).collect().toSeq
    assert(out == Seq(
      Event(Some(ts(10)), None: Option[Int]),
      Event(Some(ts(20)), Some(7)),
      Event(Some(ts(30)), Some(8))))
  }

  test("streamMap transforms values, keeps timestamps, passes time-ticks") {
    val out = mixed.toDS.streamMap(_ * 10).collect().toSeq
    assert(out == Seq(
      Event(Some(ts(0)), Some(10)),
      Event(Some(ts(10)), None: Option[Int]),
      Event(Some(ts(20)), Some(70)),
      Event(None, Some(30)),
      Event(Some(ts(30)), Some(80))))
  }

  test("streamFilterAcc updates acc on every data event, passes ticks") {
    // changes-style dedup: keep when different from previous value
    val evs = Seq(
      Event.data(0, 1), Event.data(1, 1), Event.tick[Int](2),
      Event.data(3, 2), Event.data(4, 2), Event.data(5, 1))
    val out = evs.toDS
      .streamFilterAcc[Option[Int]]((_, v) => Some(v), None)((v, acc) => !acc.contains(v))
      .collect().toSeq
    assert(out.map(_.value) == Seq(Some(1), None, Some(2), Some(1)))
  }

  test("streamScan emits running accumulator; ticks pass without emitting") {
    val evs = Seq(Event.data(0, 1), Event.tick[Int](1), Event.data(2, 2), Event.data(3, 3))
    val out = evs.toDS.streamScan[Int](_ + _, 0).collect().toSeq
    assert(out.map(_.value) == Seq(Some(1), None, Some(3), Some(6)))
    // scan preserves length (reference prop_streamScan_samelength)
    assert(out.length == evs.length)
  }

  test("streamScanMonoid distributes yet matches streamScan exactly, ticks included") {
    val evs = (0 until 200).map(i =>
      if (i % 17 == 0) Event.tick[Int](i * 10L) else Event.data(i * 10L, i % 23))
    val sequential = evs.toDS.streamScan[Int](_ + _, 0)
      .collect().map(e => (e.time.map(_.getTime), e.value)).toSeq.sortBy(_._1)
    // shuffled arrival across 6 partitions: the monoid path must re-derive
    // the identical time-ordered fold
    val shuffled = scala.util.Random.shuffle(evs.toList)
    val ds = spark.createDataset(spark.sparkContext.parallelize(shuffled, 6))
    val distributed = ds.streamScanMonoid[Int](_ + _, 0, _ + _)
      .collect().map(e => (e.time.map(_.getTime), e.value)).toSeq.sortBy(_._1)
    assert(distributed == sequential)
    assert(ds.streamScanMonoid[Int](_ + _, 0, _ + _).rdd.getNumPartitions > 1,
      "the monoid scan must not collapse to one partition")
  }

  test("streamScanMonoid: empty stream yields empty output, all-tick stream passes ticks") {
    val empty = spark.createDataset(spark.sparkContext.parallelize(Seq.empty[Event[Int]], 2))
    assert(empty.streamScanMonoid[Int](_ + _, 0, _ + _).collect().isEmpty)
    val ticks = Seq(Event.tick[Int](10L), Event.tick[Int](20L)).toDS
    val out = ticks.streamScanMonoid[Int](_ + _, 0, _ + _).collect().toSeq
    assert(out.length == 2 && out.forall(_.value.isEmpty), "ticks pass through value-less")
  }

  test("streamScanMonoid rejects untimed data events with a directed error") {
    // an untimed data event's stream position is arrival order, which does
    // not survive the range-partition shuffle — the fold must refuse loudly
    val mixed = Seq(Event.data(0L, 1), Event.dataOnly(2), Event.data(10L, 3)).toDS
    val e = intercept[Exception] {
      mixed.streamScanMonoid[Int](_ + _, 0, _ + _).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(8).toList
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("requires timed events"))),
      s"expected the directed untimed-event error in the cause chain, got: $chain")
  }

  test("streamWindow chop: windows stamped with first element's time") {
    val evs = (0 until 5).map(i => Event.data(i * 10L, i))
    val out = evs.toDS.streamWindow(WindowMakers.chop(2)).collect().toSeq
    assert(out.map(_.value.get) == Seq(Seq(0, 1), Seq(2, 3), Seq(4)))
    assert(out.map(_.time.get.getTime) == Seq(0L, 20L, 40L))
  }

  test("streamWindow chopTime aligns to first event and emits empty windows") {
    val evs = Seq(Event.data(0L, 1), Event.data(5L, 2), Event.data(25L, 3))
    val out = evs.toDS.streamWindow(WindowMakers.chopTime(10)).collect().toSeq
    // windows [0,10) [10,20) [20,30): middle one is empty
    assert(out.map(_.value.get) == Seq(Seq(1, 2), Seq(), Seq(3)))
    assert(out(1) == Event[Seq[Int]](None, Some(Nil)))
  }

  test("streamWindow sliding: per-event window of next n events") {
    val evs = (1 to 4).map(i => Event.data(i * 10L, i))
    val out = evs.toDS.streamWindow(WindowMakers.sliding(3)).collect().toSeq
    assert(out.map(_.value.get) == Seq(Seq(1, 2, 3), Seq(2, 3, 4), Seq(3, 4), Seq(4)))
  }

  test("streamWindow slidingTime: [t, t+ms) per timed event") {
    val evs = Seq(Event.data(0L, 1), Event.data(4L, 2), Event.data(9L, 3), Event.data(20L, 4))
    val out = evs.toDS.streamWindow(WindowMakers.slidingTime(10)).collect().toSeq
    assert(out.map(_.value.get) == Seq(Seq(1, 2, 3), Seq(2, 3), Seq(3), Seq(4)))
  }

  test("streamExpand: one event per element, timestamp inherited; ticks pass") {
    val evs = Seq(
      Event(Some(ts(0)), Some(Seq(1, 2))),
      Event(Some(ts(1)), None: Option[Seq[Int]]),
      Event(Some(ts(2)), Some(Seq(3))))
    val out = evs.toDS.streamExpand[Int].collect().toSeq
    assert(out == Seq(
      Event(Some(ts(0)), Some(1)), Event(Some(ts(0)), Some(2)),
      Event(Some(ts(1)), None: Option[Int]), Event(Some(ts(2)), Some(3))))
  }

  test("streamMerge is time-ordered union") {
    val a = Seq(Event.data(0L, 1), Event.data(20L, 3)).toDS
    val b = Seq(Event.data(10L, 2), Event.data(30L, 4)).toDS
    val out = a.streamMerge(b).collect().toSeq
    assert(out.map(_.value.get) == Seq(1, 2, 3, 4))
  }

  test("streamZipJoin pairs k-th data events, left timestamp, shorter wins") {
    val a = Seq(Event.data(0L, "a"), Event.tick[String](1L), Event.data(2L, "b"),
      Event.data(3L, "c")).toDS
    val b = Seq(Event.data(100L, 10), Event.data(200L, 20)).toDS
    val out = a.streamZipJoin(b).collect().toSeq
    assert(out.map(_.value.get) == Seq(("a", 10), ("b", 20)))
    assert(out.map(_.time.get.getTime) == Seq(0L, 2L))
  }

  test("streamJoinE: windowed cartesian theta-join then expand") {
    val a = Seq(Event.data(0L, 1), Event.data(1L, 2)).toDS
    val b = Seq(Event.data(0L, 10), Event.data(1L, 20)).toDS
    val out = a.streamJoinE(
        WindowMakers.complete[Int], WindowMakers.complete[Int])(
        (x, y) => x * 10 == y)((x, y) => x + y)(b)
      .collect().toSeq
    assert(out.map(_.value.get) == Seq(11, 22))
  }

  test("streamJoinW: window-pair combiner with differing window sizes") {
    val a = (1 to 4).map(i => Event.data(i.toLong, i)).toDS
    val b = (1 to 4).map(i => Event.data(i.toLong, i * 100)).toDS
    val out = a.streamJoinW(
        WindowMakers.chop[Int](2), WindowMakers.chop[Int](4))(
        (w1, w2) => w1.sum + w2.length)(b)
      .collect().toSeq
    // left windows [1,2],[3,4]; right has ONE window [100..400] → zip stops
    // at the shorter side: a single paired window survives
    assert(out.map(_.value.get) == Seq(1 + 2 + 4))
  }

  test("streamWindowAggregate = map ∘ window") {
    val evs = (1 to 6).map(i => Event.data(i.toLong, i))
    val out = evs.toDS
      .streamWindowAggregate(WindowMakers.chop[Int](3))(_.sum)
      .collect().toSeq
    assert(out.map(_.value.get) == Seq(6, 15))
  }

  test("keyed stateful variants: scan and filterAcc per key") {
    val evs = Seq(
      Event.data(0L, 1), Event.data(1L, 2), Event.data(2L, 3), Event.data(3L, 4))
    // key = parity; running sum within parity class
    val out = evs.toDS
      .streamScanByKey[Int, Int](e => e.value.get % 2, _ + _, 0)
      .collect().toSeq.sortBy(_.time.get.getTime)
    assert(out.map(_.value.get) == Seq(1, 2, 4, 6))
  }

  test("streamRestamp and streamReduce on the typed surface") {
    val evs = Seq(
      Event.data(0L, (new java.sql.Timestamp(500L), 1)),
      Event.data(10L, (new java.sql.Timestamp(900L), 2))).toDS()
    val restamped = evs.streamRestamp(_._1).collect().toList
    assert(restamped.map(_.time.get.getTime) == List(500L, 900L))
    val ints = Seq(Event.data(0L, 3), Event.tick[Int](5L), Event.data(10L, 4)).toDS()
    assert(ints.streamReduce(_ + _).contains(7))
    assert(Seq.empty[Event[Int]].toDS().streamReduce(_ + _).isEmpty)
  }
}
