package graft.plans

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSuite
import graft.core.{Event, WindowMakers}

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

  /** Replays `batches` through `build` into a foreachBatch sink keyed by
    * batch id: batches 0-1, stop, restart on the same checkpoint, batches
    * 2-3. Returns every row emitted and the restarted query. */
  private def replay(name: String)(
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
    def run(): StreamingQuery = {
      val q = build(src).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[(Int, Event[Any])], id: Long) => out.put(id, b.collect().toSeq); () }
        .start()
      q.processAllAvailable()
      q.stop()
      q
    }
    writeBatch(0); writeBatch(1)
    run()
    writeBatch(2); writeBatch(3)
    val q = run()
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
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      .collect { case p if p.getClass.getSimpleName == "FlatMapGroupsWithStateExec" => p }.size

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

  test("FilterAcc -> chopTime -> Map runs as one state machine and matches the interpreter") {
    val g = StreamGraph.path(Seq(source, fallingEdge(1),
      StreamVertex(2, OpWindow, List(Param("chopTime 1000",
        (s: List[Event[Any]]) => WindowMakers.chopTime[Any](1000)(s))), "Double", "[Double]", 1),
      StreamVertex(3, OpMap, List(Param("length",
        (w: Any) => w.asInstanceOf[List[Any]].length: Any)), "[Double]", "Int", 1),
      sink(4, "Int")))
    val (got, q) = replay("wearable")(src => tag(StreamingLowering.lower(spark, g, Map(0 -> src)), 4))
    // the window holding the last event is still open
    val expected = interp(g)(4).dropRight(1)
    assert(expected.length >= 15)
    assert(canon(got.map(_._2)) == canon(expected))
    assert(statefulOps(q) == 1)
    assert(q.lastProgress.stateOperators.length == 1)
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
