package graft.plans

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{ListenerFence, SparkSuite}
import graft.core.{Event, WindowMakers}
import graft.streaming.GateTuning

/** A linear run of stateful vertices lowers to ONE state machine, and it
  * emits what the interpreter does: each graph is replayed as four
  * micro-batches, with the query stopped after the second and restarted
  * from its checkpoint, and every sink's output must equal the
  * interpreter's on the same events (minus the windows a finite replay
  * leaves pending). */
class StatefulRunSpec extends SparkSuite {
  import StatefulRunSpec._
  import spark.implicits._

  /** Four batches of strictly increasing stamps, 200 ms apart; about one
    * sample in seven is a value-less tick. */
  private val batches: Seq[Seq[Row]] = {
    val rnd = new scala.util.Random(20261017L)
    val base = 1704067200000L
    (0 until 4).map { b =>
      (0 until 25).map { i =>
        val k = b * 25 + i
        (new Timestamp(base + 200L * k),
          if (rnd.nextInt(7) == 0) None else Some(rnd.nextInt(11).toDouble))
      }
    }
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  private def sessionPartitions: Int = spark.conf.get(ShufflePartitions).toInt

  /** Replays `batches` through `build` into a foreachBatch sink keyed by
    * batch id: batches 0-1, stop, restart on the same checkpoint, batches
    * 2-3. The query starts under `partitions._1` shuffle (= state)
    * partitions and restarts under `partitions._2`, the session's own by
    * default. Returns every row emitted and the restarted query. */
  private def replay(name: String, partitions: (Int, Int) = (sessionPartitions, sessionPartitions))(
      build: Dataset[Event[Any]] => Dataset[(Int, Event[Any])]): (Seq[(Int, Event[Any])], StreamingQuery) = {
    val dir = Files.createTempDirectory(s"graft-run-$name-src")
    val ckpt = Files.createTempDirectory(s"graft-run-$name-ckpt").toString
    val base = System.currentTimeMillis() - 3600000L
    def writeBatch(i: Int): Unit = {
      val sub = Files.createTempDirectory("graft-run-part")
      batches(i).toDF("ts", "value").coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val part = scala.util.Using.resource(Files.list(sub)) {
        _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      }
      val target = dir.resolve(f"b$i%02d.parquet")
      Files.move(part, target)
      target.toFile.setLastModified(base + 10000L * i)
      ()
    }
    val src: Dataset[Event[Any]] = spark.readStream
      .schema(batches.head.toDF("ts", "value").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .as[Row]
      .map(asEvent)(Encoders.kryo[Event[Any]])
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Int, Event[Any])]]()
    def run(shufflePartitions: Int): StreamingQuery = {
      val prev = spark.conf.get(ShufflePartitions)
      val q = try {
        spark.conf.set(ShufflePartitions, shufflePartitions.toString)
        build(src).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: Dataset[(Int, Event[Any])], id: Long) => out.put(id, b.collect().toSeq); () }
          .start()
      } finally spark.conf.set(ShufflePartitions, prev)
      q.processAllAvailable()
      q.stop()
      q
    }
    writeBatch(0); writeBatch(1)
    run(partitions._1)
    writeBatch(2); writeBatch(3)
    val q = run(partitions._2)
    assert(out.size == 4, s"expected four micro-batches, got ${out.keySet}")
    (out.asScala.toSeq.sortBy(_._1).flatMap(_._2), q)
  }

  private val tagged = Encoders.tuple(Encoders.scalaInt, Encoders.kryo[Event[Any]])

  private def tag(lowered: Map[Int, Dataset[Event[Any]]], sinks: Int*): Dataset[(Int, Event[Any])] =
    sinks.map(id => lowered(id).map(e => (id, e))(tagged)).reduce(_ union _)

  private def canon(es: Seq[Event[Any]]): Seq[(Long, String)] =
    es.map(e => (e.time.map(Event.micros).getOrElse(Long.MinValue), e.value.toString)).sorted

  private def interp(g: StreamGraph): Map[Int, List[Event[Any]]] =
    Interpreter.runToSinks(g, Map(0 -> batches.flatten.map(asEvent).toList))

  private def statefulOps(q: StreamingQuery): Int =
    plan(q).collect { case p if p.getClass.getSimpleName == "FlatMapGroupsWithStateExec" => p }.size

  private def plan(q: StreamingQuery) =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  /** `body`'s result, and the stages and tasks of every streaming
    * micro-batch's jobs while it ran, per (query run, batch id). */
  private def withTriggerShapes[A](body: => A): (A, Map[(String, String), (Int, Int)]) = {
    val sc = spark.sparkContext
    val shapes = new java.util.concurrent.ConcurrentHashMap[(String, String), (Int, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")).map { b =>
          (p.getProperty("spark.jobGroup.id"), b)
        }).foreach { trigger =>
          shapes.merge(trigger, (e.stageInfos.size, e.stageInfos.map(_.numTasks).sum),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerFence.await(sc)
      (result, shapes.asScala.toMap)
    } finally sc.removeSparkListener(listener)
  }

  private def windowLength(e: Event[Any]): Int = e.value.get.asInstanceOf[List[Any]].length

  private def source = StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1)

  private def fallingEdge(id: Int) = StreamVertex(id, OpFilterAcc(0.1), List(
    Param("\\_ v -> Just v", (_: Any, v: Any) => Some(v): Any),
    Param("Nothing", None: Any),
    Param("falling edge", (v: Any, prev: Any) =>
      prev.asInstanceOf[Option[Any]].exists(_.asInstanceOf[Double] > 5.0) &&
        v.asInstanceOf[Double] <= 5.0)), "Double", "Double", 1)

  private def runningSum(id: Int) = StreamVertex(id, OpScan, List(
    Param("sum", (acc: Any, v: Any) => (acc.asInstanceOf[Double] + v.asInstanceOf[Double]): Any),
    Param("0.0", 0.0: Any)), "Double", "Double", 1)

  private def sink(id: Int, t: String) = StreamVertex(id, OpSink, Nil, t, t, 1)

  /** The wearable pipeline's shape: a falling-edge filter, 1 s windows,
    * their lengths. */
  private def wearable = StreamGraph.path(Seq(source, fallingEdge(1),
    StreamVertex(2, OpWindow, List(Param("chopTime 1000",
      (s: List[Event[Any]]) => WindowMakers.chopTime[Any](1000)(s))), "Double", "[Double]", 1),
    StreamVertex(3, OpMap, List(Param("length",
      (w: Any) => w.asInstanceOf[List[Any]].length: Any)), "[Double]", "Int", 1),
    sink(4, "Int")))

  /** The interpreter's wearable output, less the window holding the last
    * event, which is still open. */
  private def wearableExpected: List[Event[Any]] = interp(wearable)(4).dropRight(1)

  test("FilterAcc -> chopTime -> Map runs as one state machine and matches the interpreter") {
    val (got, q) = replay("wearable")(src => tag(StreamingLowering.lower(spark, wearable, Map(0 -> src)), 4))
    assert(wearableExpected.length >= 15)
    assert(canon(got.map(_._2)) == canon(wearableExpected))
    assert(statefulOps(q) == 1)
    assert(q.lastProgress.stateOperators.length == 1)
  }

  test("over a single-partition input at GateTuning.statePartitions, each micro-batch runs " +
      "as one task with no exchange") {
    val n = GateTuning.statePartitions
    val ((got, q), shapes) = withTriggerShapes {
      // coalesce(1): the SinglePartition input StreamingOps.socketSource gives
      replay("one-stage", (n, n)) { src =>
        tag(StreamingLowering.lower(spark, wearable, Map(0 -> src.coalesce(1))), 4)
      }
    }
    assert(canon(got.map(_._2)) == canon(wearableExpected))
    assert(plan(q).collect { case e: ShuffleExchangeExec => e }.size == 0)
    assert(statefulOps(q) == 1)
    assert(q.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq == Seq(1L))
    assert(shapes.size == 4, s"expected four micro-batches with a job, got $shapes")
    assert(shapes.values.toSet == Set((1, 1)), s"(stages, tasks) per micro-batch: $shapes")
  }

  test("a restart keeps the state-partition count its checkpoint was created with") {
    val (got, q) = replay("restart", (1, 2)) { src =>
      tag(StreamingLowering.lower(spark, wearable, Map(0 -> src)), 4)
    }
    assert(canon(got.map(_._2)) == canon(wearableExpected))
    assert(q.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq == Seq(1L))
  }

  test("Scan -> Map -> sliding fuses across the stateless Map and matches the interpreter") {
    val g = StreamGraph.path(Seq(source, runningSum(1),
      StreamVertex(2, OpMap, List(Param("(*0.5)",
        (v: Any) => (v.asInstanceOf[Double] * 0.5): Any)), "Double", "Double", 1),
      StreamVertex(3, OpWindow, List(Param("sliding 3",
        (s: List[Event[Any]]) => WindowMakers.sliding[Any](3)(s))), "Double", "[Double]", 1),
      sink(4, "[Double]")))
    val (got, q) = replay("sliding")(src => tag(StreamingLowering.lower(spark, g, Map(0 -> src)), 4))
    // sliding emits a window once it holds 3 events; shorter tails stay pending
    val expected = interp(g)(4).filter(windowLength(_) == 3)
    assert(canon(got.map(_._2)) == canon(expected))
    assert(statefulOps(q) == 1)
  }

  test("FilterAcc -> Scan -> chop runs as one state machine and matches the interpreter") {
    val g = StreamGraph.path(Seq(source, fallingEdge(1), runningSum(2),
      StreamVertex(3, OpWindow, List(Param("chop 2",
        (s: List[Event[Any]]) => WindowMakers.chop[Any](2)(s))), "Double", "[Double]", 1),
      sink(4, "[Double]")))
    val (got, q) = replay("chop")(src => tag(StreamingLowering.lower(spark, g, Map(0 -> src)), 4))
    val expected = interp(g)(4).filter(windowLength(_) == 2)
    assert(expected.nonEmpty)
    assert(canon(got.map(_._2)) == canon(expected))
    assert(statefulOps(q) == 1)
  }

  test("a stateful vertex with two consumers ends its run") {
    val g = StreamGraph(
      Vector(source, runningSum(1),
        StreamVertex(2, OpMap, List(Param("(+1)",
          (v: Any) => (v.asInstanceOf[Double] + 1): Any)), "Double", "Double", 1),
        sink(3, "Double"),
        StreamVertex(4, OpWindow, List(Param("chop 3",
          (s: List[Event[Any]]) => WindowMakers.chop[Any](3)(s))), "Double", "[Double]", 1),
        sink(5, "[Double]")),
      Vector(0 -> 1, 1 -> 2, 2 -> 3, 1 -> 4, 4 -> 5))
    assert(StreamingLowering.statefulRuns(g).map(_.map(_.v.id)) == List(List(1), List(4)))
    var chopBranch: Dataset[Event[Any]] = null
    val (got, _) = replay("fanout") { src =>
      val lowered = StreamingLowering.lower(spark, g, Map(0 -> src))
      chopBranch = lowered(5)
      tag(lowered, 3, 5)
    }
    val expected = interp(g)
    assert(canon(got.filter(_._1 == 3).map(_._2)) == canon(expected(3)))
    assert(canon(got.filter(_._1 == 5).map(_._2)) ==
      canon(expected(5).filter(windowLength(_) == 3)))
    // the chop sink's branch keeps the Scan's group and its own
    assert(chopBranch.queryExecution.logical
      .collect { case p if p.nodeName == "FlatMapGroupsWithState" => p }.size == 2)
  }

  test("a vertex inside a run is lowered on demand as the run's prefix") {
    val g = StreamGraph.path(Seq(source, fallingEdge(1), runningSum(2), sink(3, "Double")))
    val input = batches.flatten.map(asEvent).toList
    val lowered = StreamingLowering.lower(spark, g,
      Map(0 -> spark.createDataset(input)(Encoders.kryo[Event[Any]])))
    val expected = Interpreter.run(g, Map(0 -> input))
    assert(canon(lowered(1).collect().toSeq) == canon(expected(1)))
    assert(canon(lowered(3).collect().toSeq) == canon(expected(3)))
  }
}

object StatefulRunSpec {
  type Row = (Timestamp, Option[Double])

  def asEvent(r: Row): Event[Any] = Event(Some(r._1), r._2.map(v => v: Any))
}
