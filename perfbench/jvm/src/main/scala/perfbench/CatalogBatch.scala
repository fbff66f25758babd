package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** `catalog_batch`: closed loop over a fixed part of the program's batch
  * query catalogue — the relational plans and the StrIoT operators run as
  * batch queries — on seeded tables with the columns, types and value
  * ranges of the certified test data (`inputs.catalog_tables`), one query
  * at a time, each forced through a `noop` write. The seed sets the tables
  * and the query order.
  *
  * Each query first runs with its result written as parquet (the
  * correctness pass, compared with `SparkEntry.oracleSql` in DuckDB by
  * `run.py`; it also warms every query). Timed passes over all queries then
  * repeat until `--seconds` have passed, five times at least; a query's
  * time is its median over the passes. A traced run instead alternates untraced and traced passes
  * (untraced, traced, traced, untraced) and reports the layer metrics of
  * the traced ones. */
final class CatalogBatch extends Workload {
  import CatalogBatch._

  private def dir(ctx: Ctx): String = ctx.opts.inputs.toString

  private def force(ctx: Ctx, df: DataFrame): Unit =
    ctx.tracer.span("exec.noop_write")(df.write.mode("overwrite").format("noop").save())

  /** One query: (build ms, run ms, persisted RDDs left behind). */
  private def timeQuery(ctx: Ctx, name: String): (Double, Double, Int) = {
    val spark = ctx.spark
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val df = ctx.tracer.span("queries.build")(SparkEntry.queries(name)(spark, dir(ctx)))
    val t1 = System.nanoTime()
    force(ctx, df)
    val t2 = System.nanoTime()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.filterNot(before.contains)
    sweep(ctx)
    ((t1 - t0) / 1e6, (t2 - t1) / 1e6, leaked.size)
  }

  /** The same post-query sweep as the program's Bench: cached tables and
    * persisted RDDs from one query must not ride into the next. */
  private def sweep(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def setup(ctx: Ctx): Unit =
    ctx.tracer.span("setup.warmup")(force(ctx, SparkEntry.queries(WarmQuery)(ctx.spark, dir(ctx))))

  def teardown(ctx: Ctx): Unit = sweep(ctx)

  /** One pass over `order`: (wall s, per query (name, build ms, run ms, leaked)). */
  private def pass(ctx: Ctx, order: Seq[String]): (Double, Seq[(String, Double, Double, Int)]) = {
    val t0 = System.nanoTime()
    val per = order.map { n =>
      val (b, r, leaked) = ctx.tracer.span(s"query:$n")(timeQuery(ctx, n))
      (n, b, r, leaked)
    }
    ((System.nanoTime() - t0) / 1e9, per)
  }

  def measure(ctx: Ctx): Unit = {
    val order = new Random(ctx.opts.seed).shuffle(Queries)
    ctx.details.put("query_order", order.mkString(","))
    val results = ctx.opts.work.resolve("results")
    // correctness (and warm-up) pass: results as parquet for the oracle check
    val errored = order.flatMap { n =>
      try {
        ctx.tracer.span("queries.verify") {
          SparkEntry.queries(n)(ctx.spark, dir(ctx)).write.mode("overwrite").parquet(results.resolve(n).toString)
        }
        sweep(ctx)
        None
      } catch { case e: Exception => sweep(ctx); Some(n -> e) }
    }.toMap
    errored.foreach { case (n, e) => ctx.fail(s"$n: error: ${e.getClass.getSimpleName}: ${msg(e)}") }
    ctx.attempted = order.size.toLong
    val oracles = new java.util.LinkedHashMap[String, String]()
    order.filterNot(errored.contains).foreach(n => SparkEntry.oracleSql.get(n).foreach(oracles.put(n, _)))
    order.filterNot(SparkEntry.oracleSql.contains).foreach(n => ctx.fail(s"$n: no oracle SQL"))
    ctx.details.put("oracle_sql", oracles)
    ctx.details.put("results_dir", results.toString)
    val timed = order.filterNot(errored.contains)

    if (!ctx.opts.trace) {
      val deadline = System.nanoTime() + ctx.opts.seconds * 1000000000L
      val passes = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double, Double, Int)])]
      while (passes.size < MinPasses || System.nanoTime() < deadline) passes += pass(ctx, timed)
      val perQuery = timed.map(n => n -> Stats.median(passes.toSeq.map(_._2.find(_._1 == n).map(q => q._2 + q._3).get)))
      val lat = perQuery.map(_._2)
      ctx.put("latency_p50_ms", Stats.median(lat), "ms")
      ctx.put("latency_p99_ms", Stats.percentile(lat, 99), "ms")
      ctx.put("latency_geomean_ms", Stats.geomean(lat), "ms")
      ctx.details.put("latency_samples", lat.size)
      val passS = Stats.median(passes.toSeq.map(_._1))
      ctx.put("throughput_per_s", timed.size / passS, "1/s")
      ctx.details.put("passes", passes.size)
      ctx.details.put("pass_s", passS)
      ctx.details.put("query_geomean_ms", Stats.geomean(lat))
      val qms = new java.util.LinkedHashMap[String, Any]()
      perQuery.sortBy(-_._2).foreach { case (n, ms) => qms.put(n, math.rint(ms * 10) / 10) }
      ctx.details.put("query_ms", qms)
    } else {
      // untraced and traced passes alternate, so drift over the run cancels
      val ls = LayerMetrics.create()
      val untraced = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double, Double, Int)])]
      Seq(false, true, true, false).foreach { on =>
        if (on) {
          LayerMetrics.attach(ctx.spark, ls)
          traced += pass(ctx, timed)
          LayerMetrics.detach(ctx.spark, ls)
        } else untraced += pass(ctx, timed)._1
      }
      val tracedS = traced.map(_._1).sum
      LayerMetrics.fill(ctx, ls, tracedS * 1000)
      val k = traced.size.toDouble
      ctx.putLayer("queries.build_ms", traced.map(_._2.map(_._2).sum).sum / k, "ms")
      ctx.putLayer("queries.run_ms", traced.map(_._2.map(_._3).sum).sum / k, "ms")
      ctx.putLayer("queries.leaked_blocks", traced.map(_._2.map(_._4).sum).sum / k, "count")
      ctx.putLayer("trace.overhead_pct", (Stats.median(traced.map(_._1).toSeq) / Stats.median(untraced.toSeq) - 1) * 100, "%")
      ctx.details.put("untraced_pass_s", untraced.mkString(","))
      ctx.details.put("traced_pass_s", traced.map(_._1).mkString(","))
    }
  }

  private def msg(e: Throwable): String = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
}

object CatalogBatch {
  /** The catalogue entries this workload runs: three relational plans over
    * the TPC-H-ish tables and three StrIoT operators run as batch queries
    * over `events` — six, so that the correctness pass and two timed passes
    * fit one run. All 33 entries of `RelationalQueries` and the batch
    * `StreamQueries` over these tables matched their oracles on the tables
    * of seed 1. */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q_join_revenue", "q_asof_join",
    "q_changes", "q_join_e", "q_topk_window")

  /** The query each set-up repetition runs cold: session plus first query. */
  val WarmQuery = "q_filter"

  /** Timed passes per untraced run at least: a query's median over five
    * passes stays steady when the host's steal time varies. */
  val MinPasses = 5
}
