package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Cross-checks for the sketch queries: the RAW estimates (recomputed here
  * — the driver queries emit exact values + bound booleans) must sit
  * inside the sketches' published error bounds of the exact answers on
  * real sf0.01 data, the driver queries' bound booleans must all be TRUE,
  * and the plans must partial-aggregate (the whole point of a mergeable
  * sketch). */
class SketchesSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.01"

  test("HLL++ distinct estimate within 3x the 1% target rsd of exact; query bound holds") {
    val rows = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
        countDistinct(col("user_id")).as("exact"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 5)
    rows.foreach { case (et, approx, exact) =>
      assert(exact > 0)
      val rel = math.abs(approx.toDouble - exact) / exact
      assert(rel <= 0.03, s"$et: approx=$approx exact=$exact rel=$rel")
    }
    val gated = SketchQueries.queries("q_approx_distinct")(spark, sfDir).collect()
    assert(gated.length == 5)
    gated.foreach(r => assert(r.getBoolean(3), s"approx_ok false for ${r.getString(0)}"))
  }

  test("q_approx_distinct keeps NULL-key and all-NULL-user groups, as the oracle's GROUP BY does") {
    import spark.implicits._
    val ev = Seq[(Option[String], Option[Long])](
      (Some("click"), Some(1L)), (Some("click"), Some(2L)), (Some("view"), Some(1L)),
      (None, Some(1L)), (None, Some(3L)), (None, Some(3L)),
      (Some("ghost"), None), (Some("ghost"), None)).toDF("event_type", "user_id")
    val got = SketchQueries.approxDistinct(ev).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == Set((Some("click"), 2L, 2L, true), (Some("view"), 1L, 1L, true),
      (None, 2L, 3L, true), (Some("ghost"), 0L, 2L, true)))
  }

  test("GK quantiles within the rank-error guarantee of exact quantiles; query bounds hold") {
    val got = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("qs"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getLong(2))).toMap
    val exact = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (et, (qs, n)) =>
      val vs = exact(et)
      assert(n == vs.length)
      // accuracy 10000 → rank error ≤ n/10000 (< 1 at this n, allow +1 slack)
      val tol = math.max(2, n / 10000 + 1)
      def rankOf(x: Double): Int = vs.count(_ <= x)
      assert(math.abs(rankOf(qs(0)) - 0.5 * n) <= tol, s"$et p50")
      assert(math.abs(rankOf(qs(1)) - 0.95 * n) <= tol, s"$et p95")
      assert(math.abs(rankOf(qs(2)) - 0.99 * n) <= tol, s"$et p99")
    }
    val gated = SketchQueries.queries("q_approx_quantile")(spark, sfDir).collect()
    assert(gated.length == 5)
    gated.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"quantile bound false for ${r.getString(0)}")
    }
  }

  test("sketch aggregates partial-aggregate before the exchange") {
    val plan = SketchQueries.queries("q_approx_distinct")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_count_distinct") ||
      plan.toLowerCase.contains("partial"), s"no map-side combine:\n$plan")
  }

  test("streaming MG over chunked micro-batches equals the batch above-threshold set") {
    // sf0.001 so the replay is cheap; the gate's complete-mode state must
    // merge the k=200 summary across 4 separate doc_id micro-batches and
    // still emit EXACTLY the batch pipeline's rows (containment under
    // arbitrary merge order — the PODS'12 MG merge guarantee)
    val dir = "/root/testdata/sf0.001"
    val streaming = SketchQueries.queries("q_streaming_frequent")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).sorted
    val batch = SketchQueries.queries("q_frequent_words")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).sorted
    assert(streaming.nonEmpty)
    assert(streaming.toSeq == batch.toSeq)
    assert(streaming.forall(_._4), "MG deficit bound violated")
  }
}
