package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Event
import graft.plans._

/** End-to-end StreamGraph execution through the driver contract: author a
  * graph in the IR (source → map → filter → scan → sink), lower it with
  * [[graft.plans.Lowering]], and check the result against a plain SQL
  * oracle — proving the IR path (authoring → rewriting → lowering) computes
  * the same answers as the relational formulations. */
object GraphQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_lowered" -> ((s, dir) => {
      import s.implicits._
      // DISTRIBUTED source (no orderBy, no coalesce(1)): the scan declares
      // its fold a monoid (sum, 0, +), so Lowering runs the distributed
      // prefix-scan — range-partitioned by stream order, per-partition
      // folds, a numPartitions-sized driver combine — instead of the
      // single-ordered-partition interpreter-parity path (that path stays
      // spec-covered in LoweringSpec). Event times are unique in `events`,
      // so the fold order is well-defined without a tiebreak.
      //
      // The fold accumulates in SCALED LONG (cents), not Double: FP
      // addition is not associative, so a Double monoid only approximately
      // satisfies streamScanMonoid's merge contract — a per-partition
      // partial plus an offset re-fold can differ in ULPs from the
      // sequential fold, and a running sum landing on a rounding boundary
      // would flip the oracle hash nondeterministically. Long addition is
      // exactly associative, so the distributed scan is bit-identical to
      // the sequential one regardless of partitioning.
      val src = Tables.events(s, dir)
        .select(col("ts"), col("value"))
        .as[(java.sql.Timestamp, Double)]
        .map { case (ts, v) => Event(Some(ts), Some(v: Any)) }(Event.kryo)
      val g = StreamGraph.path(Seq(
        StreamVertex(0, OpSource(1), Nil, "Double", "Double", 1),
        StreamVertex(1, OpMap,
          List(Param("(*2)", (v: Any) => (v.asInstanceOf[Double] * 2): Any)),
          "Double", "Double", 1),
        StreamVertex(2, OpFilter(0.5),
          List(Param("(>20)", (v: Any) => v.asInstanceOf[Double] > 20.0)),
          "Double", "Double", 1),
        StreamVertex(3, OpScan, List(
          Param("sumCents", (acc: Any, v: Any) =>
            (acc.asInstanceOf[Long] +
              math.floor(v.asInstanceOf[Double] * 100 + 0.5).toLong): Any),
          Param("0L", 0L: Any),
          Param("(+)", (a: Any, b: Any) =>
            (a.asInstanceOf[Long] + b.asInstanceOf[Long]): Any)),
          "Double", "Long", 1),
        StreamVertex(4, OpSink, Nil, "Long", "Long", 1)))
      Lowering.lower(s, g, Map(0 -> src))(4)
        .map { e =>
          val cents = e.value.get.asInstanceOf[Long]
          (e.time.get, cents / 100.0)
        }
        .toDF("ts", "running")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_graph_lowered" ->
      """WITH f AS (
        |  SELECT ts, event_id,
        |         CAST(floor(value * 2 * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value * 2 > 20.0)
        |SELECT ts,
        |       sum(cents) OVER (ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         / 100.0 AS running
        |FROM f""".stripMargin
  )
}
