package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders}

import graft.SparkSuite
import graft.core.Event
import graft.plans.{OpFilterAcc, OpScan, OpSink, OpSource, OpWindow, Param,
  StreamGraph, StreamVertex, StreamingLowering}

/** A keyed stateful operator is the lowered graphs' operator per key: for
  * scan, filterAcc, chop, sliding and slidingTime, each key's output of
  * the `StreamingOps` keyed form equals the single-group lowering's output
  * on that key's events alone. The replay is three micro-batches over two
  * keys, and a later batch carries events older than state an earlier one
  * left — late data across micro-batches. */
class KeyedParitySpec extends SparkSuite {
  import KeyedParitySpec._
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(ms)

  /** (key, ms, value) per micro-batch; a None value is a timed tick. Key 1
    * is late data across micro-batches: batch 2 opens at 500 ms, below
    * the 100000 ms state batch 1 left. Key 2's batch 2 and batch 3 open
    * with late events too. */
  private val batches: Seq[Seq[(Long, Long, Option[Double])]] = Seq(
    Seq(0L, 1000L, 2000L, 100000L, 101000L).map(ms => (1L, ms, Some(ms / 1000.0))) ++
      Seq((2L, 10000L, Some(4.0)), (2L, 12500L, Some(7.0)), (2L, 15000L, Some(3.0))),
    Seq(500L, 5000L, 103000L).map(ms => (1L, ms, Some(ms / 1000.0))) ++
      Seq((2L, 11000L, Some(9.0)), (2L, 20000L, Some(1.0)), (2L, 21000L, None)),
    Seq(104000L, 106000L, 110000L).map(ms => (1L, ms, Some(ms / 1000.0))) ++
      Seq((2L, 9000L, Some(8.0)), (2L, 30000L, Some(6.0)), (2L, 31000L, Some(2.0))))

  /** The replay as a file stream, one parquet file per micro-batch. */
  private lazy val replayDir: String = {
    val dir = Files.createTempDirectory("graft-parity")
    val base = System.currentTimeMillis() - 3600000L
    batches.zipWithIndex.foreach { case (rows, i) =>
      val sub = Files.createTempDirectory("graft-parity-part")
      rows.map { case (k, ms, v) => (k, ts(ms), v) }.toDF("k", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val part = scala.util.Using.resource(Files.list(sub)) {
        _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      }
      val target = dir.resolve(f"b$i%02d.parquet")
      Files.move(part, target)
      target.toFile.setLastModified(base + 10000L * i)
    }
    dir.toString
  }

  private def keyed: Dataset[(Long, Event[Double])] =
    spark.readStream.schema(
      Seq((0L, ts(0), Option(0.0))).toDF("k", "ts", "value").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(replayDir)
      .as[(Long, Timestamp, Option[Double])]
      .map { case (k, t, v) => (k, Event(Some(t), v)) }(StreamingOps.keyedEvents)

  /** Every row a streaming Dataset emits over the three micro-batches. */
  private def drain[T](name: String, ds: Dataset[T]): Seq[T] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    val q = ds.writeStream
      .option("checkpointLocation", Files.createTempDirectory(s"graft-parity-$name").toString)
      .foreachBatch { (b: Dataset[T], _: Long) => b.collect().foreach(out.add); () }
      .start()
    q.processAllAvailable()
    val batchesRun = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batchesRun == 3, s"$name: expected 3 data micro-batches, got $batchesRun")
    out.asScala.toSeq
  }

  /** Asserts that each key's keyed output equals the lowering of `op` on
    * that key's events, as sorted (ms, value) lists; returns them. */
  private def assertParity(name: String, op: StreamVertex)(
      byKey: Dataset[(Long, Event[Double])] => Dataset[(Long, Event[Any])])
      : Map[Long, Seq[(Long, String)]] = {
    val viaKeyed = drain(s"$name-keyed", byKey(keyed).map { case (k, e) => (k, eventOf(e)) })
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val g = StreamGraph.path(Seq(
      StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1), op,
      StreamVertex(2, OpSink, Nil, op.outType, op.outType, 1)))
    val viaLowering = Seq(1L, 2L).map { k =>
      val src = keyed.filter(_._1 == k).map(_._2.asInstanceOf[Event[Any]])(Encoders.kryo[Event[Any]])
      k -> drain(s"$name-lowered-$k",
        StreamingLowering.lower(spark, g, Map(0 -> src))(2).map(eventOf)).sorted
    }.toMap
    Seq(1L, 2L).foreach { k =>
      assert(viaKeyed.getOrElse(k, Nil) == viaLowering(k),
        s"$name key $k: keyed ${viaKeyed.getOrElse(k, Nil)} vs lowered ${viaLowering(k)}")
    }
    assert(viaLowering.values.forall(_.nonEmpty), s"$name emitted nothing for some key")
    viaKeyed
  }

  private def window(src: String) =
    StreamVertex(1, OpWindow, List(Param(src, null)), "Double", "[Double]", 1)

  /** A typed keyed output as the lowering's erased row type. */
  private def erased[B](ds: Dataset[(Long, Event[B])]): Dataset[(Long, Event[Any])] =
    ds.map { case (k, e) => (k, e.asInstanceOf[Event[Any]]) }(StreamingOps.keyedEvents)

  test("scanByKey is the lowered scan per key") {
    val sum = (acc: Double, v: Double) => acc + v
    assertParity("scan", StreamVertex(1, OpScan, List(
      Param("sum", (acc: Any, v: Any) => sum(acc.asInstanceOf[Double], v.asInstanceOf[Double]): Any),
      Param("0.0", 0.0: Any)), "Double", "Double", 1)) { ds =>
      erased(StreamingOps.scanByKey[Long, Double, Double](ds, sum, 0.0))
    }
  }

  test("filterAccByKey is the lowered filterAcc per key") {
    // keep a value iff it exceeds every earlier one: order-sensitive, so a
    // late event changes what is kept
    val accfn = (acc: Double, v: Double) => math.max(acc, v)
    val pred = (v: Double, acc: Double) => v > acc
    assertParity("filteracc", StreamVertex(1, OpFilterAcc(0.5), List(
      Param("max", (acc: Any, v: Any) => accfn(acc.asInstanceOf[Double], v.asInstanceOf[Double]): Any),
      Param("-Infinity", Double.NegativeInfinity: Any),
      Param("(>)", (v: Any, acc: Any) => pred(v.asInstanceOf[Double], acc.asInstanceOf[Double]))),
      "Double", "Double", 1)) { ds =>
      erased(StreamingOps.filterAccByKey[Long, Double, Double](
        ds, accfn, Double.NegativeInfinity, pred))
    }
  }

  test("chopByKey is the lowered chop per key") {
    assertParity("chop", window("chop 2")) { ds =>
      erased(StreamingOps.chopByKey[Long, Double](ds, 2))
    }
  }

  test("slidingByKey is the lowered sliding per key") {
    assertParity("sliding", window("sliding 3")) { ds =>
      erased(StreamingOps.slidingByKey[Long, Double](ds, 3))
    }
  }

  test("slidingTimeByKey is the lowered slidingTime per key, late data included") {
    val got = assertParity("slidingtime", window("slidingTime 2000")) { ds =>
      erased(StreamingOps.slidingTimeByKey[Long, Double](ds, 2000L))
    }
    // the window anchored at the late 500 ms event ends at 2500 ms: the
    // 5000 ms event after it is outside
    assert(got(1L).filter(_._1 == 500L) == Seq((500L, "[0.5]")), got(1L))
  }
}

object KeyedParitySpec {
  /** An output event as (ms, value), a window's values as `[a,b]`. */
  private def eventOf(e: Event[_]): (Long, String) =
    (e.time.map(_.getTime).getOrElse(-1L), e.value match {
      case Some(w: List[_]) => w.mkString("[", ",", "]")
      case other            => other.toString
    })
}
