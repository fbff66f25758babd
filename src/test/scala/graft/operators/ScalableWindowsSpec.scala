package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ListenerFence, SparkSuite}

/** ScalableWindows must equal the direct keyed window BIT-EXACTLY on any
  * chunk width — that is its whole contract (the chunked form exists for
  * skew-bounded task work, not different semantics). Checked on a skewed
  * key distribution (one key holding most rows — the crawl shape the
  * helper defends against) across degenerate (single-chunk), fine
  * (chunk-per-row), and mid widths. */
class ScalableWindowsSpec extends SparkSuite {
  import spark.implicits._

  // 1 dominant key (70% of rows) + a tail; ids sparse and non-contiguous
  // so chunk boundaries fall mid-key; deterministic value mix
  private lazy val df = {
    val rows = (0 until 997).map { i =>
      val key = if (i % 10 < 7) "big" else s"k${i % 10}"
      val id = i.toLong * 7 + (i % 3) // sparse, strictly increasing
      (id, key, (i * 2654435761L % 97) - 11)
    }
    rows.toDF("id", "key", "v")
  }

  private val widths = Seq(1L, 64L, 100000L)

  test("exclusivePrefixSum equals the direct window at every chunk width") {
    val w = Window.partitionBy($"key").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val direct = df.withColumn("pre", coalesce(sum($"v").over(w), lit(0L)))
      .select($"id", $"key", $"pre")
    for (cw <- widths) {
      val chunked = ScalableWindows
        .exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", cw)
        .select($"id", $"key", $"pre")
      assert(chunked.except(direct).isEmpty && direct.except(chunked).isEmpty,
        s"prefix sums diverge at chunkWidth=$cw")
    }
  }

  test("keyedRowNumber equals the direct window at every chunk width") {
    val w = Window.partitionBy($"key").orderBy($"id", $"v")
    val direct = df.withColumn("pos", row_number().over(w))
      .select($"id", $"key", $"pos")
    for (cw <- widths) {
      val chunked = ScalableWindows
        .keyedRowNumber(df, Seq("key"), Seq("id", "v"), "pos", cw)
        .select($"id", $"key", $"pos")
      assert(chunked.except(direct).isEmpty && direct.except(chunked).isEmpty,
        s"row numbers diverge at chunkWidth=$cw")
    }
  }

  test("row count and schema are preserved") {
    val out = ScalableWindows
      .exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", 64L)
    assert(out.count() === df.count())
    assert(out.columns.toSet === Set("id", "key", "v", "pre"))
  }

  test("shuffled-join fallback (carry over the broadcast bound) is bit-equal") {
    // with both broadcast thresholds off, neither the planner nor AQE may
    // broadcast the carry table: the carry join stays a shuffled join and
    // must still reproduce the direct window exactly — the path a carry
    // table over the threshold takes at scale
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      keys.foreach(conf.set(_, "-1"))
      val w = Window.partitionBy($"key").orderBy($"id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val direct = df.withColumn("pre", coalesce(sum($"v").over(w), lit(0L)))
        .select($"id", $"key", $"pre")
      val fallback = ScalableWindows
        .exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", 64L)
        .select($"id", $"key", $"pre")
      assertShuffledCarryJoin(fallback)
      assert(fallback.except(direct).isEmpty && direct.except(fallback).isEmpty)
      val wrn = Window.partitionBy($"key").orderBy($"id", $"v")
      val directRn = df.withColumn("pos", row_number().over(wrn))
        .select($"id", $"key", $"pos")
      val fallbackRn = ScalableWindows
        .keyedRowNumber(df, Seq("key"), Seq("id", "v"), "pos", 64L)
        .select($"id", $"key", $"pos")
      assertShuffledCarryJoin(fallbackRn)
      assert(fallbackRn.except(directRn).isEmpty && directRn.except(fallbackRn).isEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Runs `out` on its own QueryExecution (so the adaptive plan is the
    * executed, final one) and checks its join is shuffled, not broadcast,
    * with each input exchanged on the key AND the chunk — never on the key
    * alone, which would put a skewed key's rows back on one task. */
  private def assertShuffledCarryJoin(out: DataFrame): Unit = {
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(plan.toString.contains("isFinalPlan=true"), plan.toString.take(500))
    assert(Plans.find(plan)(_.isInstanceOf[BroadcastHashJoinExec]).isEmpty, plan.toString)
    val joins = Plans.collect(plan) { case j: SortMergeJoinExec => j }
    assert(joins.nonEmpty, plan.toString)
    for (side <- joins.flatMap(_.children)) {
      val partitioning = Plans.collectFirst(side) { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(partitioning.exists {
        case h: HashPartitioning => h.expressions.size == 2
        case _                   => false
      }, s"$partitioning\n$plan")
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("building either primitive starts no Spark job") {
    try {
      val jobs = ListenerFence.jobsStartedBy(spark.sparkContext) {
        ScalableWindows.exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", 64L)
        ScalableWindows.keyedRowNumber(df, Seq("key"), Seq("id", "v"), "pos", 64L)
      }
      assert(jobs == 0, s"building started $jobs job(s)")
    } finally graft.core.CacheRegistry.unpersistAll()
  }

  test("persists are registered for release with CacheRegistry") {
    spark.catalog.clearCache()
    val out = ScalableWindows
      .exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", 64L)
    out.write.format("noop").mode("overwrite").save()
    // the chunked input is cached after a run...
    assert(!spark.sharedState.cacheManager.isEmpty)
    // ...and a library caller (no harness clearCache) can release it
    graft.core.CacheRegistry.unpersistAll()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
