package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import graft.core.Event
import graft.core.StreamOps._
import graft.core.WindowMakers.WindowMaker

/** Lower a [[StreamGraph]] to executing Spark Datasets. The graph's params
  * are opaque `Any => Any` closures (the graph IR is the reference's
  * stringly/quoted authoring surface), so the lowered pipeline runs on
  * kryo-encoded `Event[Any]` rows: correct, distributed for the stateless
  * operators, and single-ordered-partition for the order-dependent ones —
  * the same discipline as the typed surface.
  *
  * This is the authoring-parity execution path (StreamGraph in, results
  * out, after rewrite rules and cost analysis). Production pipelines use
  * the typed `Dataset[Event[A]]` operators or the DataFrame formulations,
  * where Catalyst sees real schemas and can optimize; a lowered graph
  * executes but is opaque to Catalyst by construction.
  *
  * The operators are [[graft.core.StreamOps]]' typed ones at payload type
  * `Any`; Expand (which also passes a non-list value through) takes
  * [[StreamingLowering]]'s per-event step, and only Merge (`streamMerge`
  * sorts on a `time` column, and kryo rows have one binary column) is
  * written here.
  */
object Lowering {

  implicit private val enc: Encoder[Event[Any]] = Event.kryo

  /** Merge sort key — the shared [[Event.orderKey]] (µs time + stable
    * content-hash tiebreak; untimed events keep the union's order,
    * matching the reference's arbitrary-interleave contract). */
  private def keyOf(e: Event[Any]): (Long, Int) = Event.orderKey(e)

  /** Evaluate every vertex; returns each vertex's output Dataset. */
  def lower(spark: SparkSession, g: StreamGraph,
            sources: Map[Int, Dataset[Event[Any]]]): Map[Int, Dataset[Event[Any]]] = {
    var out = Map.empty[Int, Dataset[Event[Any]]]
    for (v <- g.topoOrder) {
      val ins = g.predecessors(v.id).map(out)
      def in0 = ins.head
      val ds: Dataset[Event[Any]] = v.op match {
        case OpSource(_) => sources(v.id)
        case OpSink      => in0
        case OpMap       => in0.streamMap(v.params.head.fn.asInstanceOf[Any => Any])
        case OpFilter(_) => in0.streamFilter(v.params.head.fn.asInstanceOf[Any => Boolean])
        case OpExpand    => in0.flatMap(StreamingLowering.expandEvent)
        case OpFilterAcc(_) =>
          in0.streamFilterAcc(v.params(0).fn.asInstanceOf[(Any, Any) => Any], v.params(1).fn)(
            v.params(2).fn.asInstanceOf[(Any, Any) => Boolean])
        case OpScan if v.params.length >= 3 =>
          // MONOID scan: a third `merge` param declares the fold associative
          // with `init` as identity (merge(a, fold-from-init(xs)) ==
          // fold-from-a(xs)), which unlocks the distributed prefix-scan —
          // the 100 TB shape for a GLOBAL running aggregate. Range-partition
          // by the stream order, fold each partition independently from
          // init, combine the (numPartitions-sized) partials on the driver
          // into per-partition offsets, then re-fold each partition from its
          // offset. Two passes over a localCheckpoint'ed sort, one tiny
          // driver combine — no single ordered partition anywhere (eager:
          // the partial combine is an action).
          in0.streamScanMonoid(v.params(0).fn.asInstanceOf[(Any, Any) => Any], v.params(1).fn,
            v.params(2).fn.asInstanceOf[(Any, Any) => Any])
        case OpScan =>
          in0.streamScan(v.params(0).fn.asInstanceOf[(Any, Any) => Any], v.params(1).fn)
        case OpWindow =>
          in0.streamWindow(v.params.head.fn.asInstanceOf[WindowMaker[Any]])(
            Encoders.kryo[Event[Seq[Any]]]).as(enc)
        case OpMerge =>
          // n-ary union, re-ordered by event time (reference merge-sort)
          val union: RDD[Event[Any]] = ins.map(_.rdd).reduce(_ union _)
          spark.createDataset(union.sortBy(keyOf, ascending = true, numPartitions = 1))
        case OpJoin =>
          ins(0).streamZipJoin(ins(1))(Encoders.kryo[Event[(Any, Any)]]).as(enc)
      }
      out += v.id -> ds
    }
    out
  }

  /** Lower and collect each sink's stream (ordering as produced). */
  def runToSinks(spark: SparkSession, g: StreamGraph,
                 sources: Map[Int, List[Event[Any]]]): Map[Int, List[Event[Any]]] = {
    val srcDs = sources.map { case (id, evs) =>
      id -> spark.createDataset(spark.sparkContext.parallelize(evs, 1))
    }
    val all = lower(spark, g, srcDs)
    g.sinks.map(s => s.id -> all(s.id).collect().toList).toMap
  }
}
