package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level ("chunked") keyed window primitives for the corpus-export
  * family (q_pack / q_export / q_shuffle_shards).
  *
  * The direct form — `sum(x) over (partition by key order by id)` — is one
  * hash exchange, but each key's running sum is a SINGLE sorted task: with
  * web-crawl-shaped source skew (one source holding most rows) that
  * source's sort+scan serializes onto one task at 100 TB (the r18 verdict's
  * "one borderline scale shape"). The two-level form range-chunks each key
  * by the (numeric, unique-per-key) order column, computes the cheap
  * per-chunk aggregate, exclusive-scans the chunk TOTALS (a window over
  * #chunks tiny rows, not #rows), and finishes within chunks carrying the
  * offset — the same carry arithmetic the streaming export packer applies
  * per micro-batch, applied batch-side. Work per task is bounded by the
  * chunk width regardless of key skew; long addition / row counting are
  * associative, so the result is BIT-IDENTICAL to the direct window and
  * every existing oracle applies verbatim.
  *
  * Plan shape (round 19): the chunked input feeds TWO consumers — the
  * per-chunk totals aggregate and the final join+window — and the first
  * cut of this operator let both consumers re-execute the whole upstream
  * plan (Catalyst prunes/infers differently per branch, so the two
  * exchange subtrees never canonicalize equal and AQE stage reuse cannot
  * dedupe them). For q_export, whose upstream is the full dedup
  * keep-list join + tokenize, that double scan measured 5.8 s vs the
  * direct window's 3.1 s at sf0.1. The input is therefore persisted
  * (materialize-for-reuse, the q_pmi tradeoff: the second consumer reads
  * a narrow cached projection instead of re-running tokenize/dedup), and
  * the chunk-totals carry table — #distinct (keys, chunk) rows =
  * input_rows / chunkWidth — is materialized, COUNTED, and broadcast back
  * only when that measured row count is under [[MaxBroadcastCarryRows]]
  * (round 20; previously the hint was unconditional, which at a toy width
  * over a huge input would force a driver-breaking broadcast — the r19
  * ADVICE item). Under the bound, the big side is exchanged exactly once
  * (for the within-chunk window) and never shuffled for the join; over
  * it, the join falls back to the planner's shuffled join on
  * (keys, __chunk) — correct at any size, and the carry side is read from
  * cache, never recomputed. Both persists are registered with
  * [[graft.core.CacheRegistry]] so library callers can release them
  * (`unpersistAll`); Bench/Verify's per-query `clearCache` already
  * releases them in the harness loops.
  *
  * Chunk width trades task granularity against carry-table size: the toy
  * default (1024 ids) makes even sf0.1 cross chunk boundaries, so the
  * DuckDB oracles exercise the carry path, not just the degenerate
  * one-chunk case. A 100 TB deployment sizes width so a chunk's rows fit a
  * task (e.g. 1-10 M ids).
  */
object ScalableWindows {

  /** Carry tables at/below this measured row count are broadcast; above
    * it the carry join falls back to a shuffled join. At ~100 bytes per
    * carry row (keys + chunk + offset) the default bounds the broadcast
    * near 200 MB — inside the "a few hundred MB is usually fine" envelope
    * and far under Spark's 8 GB / 512 M-row hard cap — while any sanely
    * sized deployment (chunkWidth 1-10 M ids) stays under it up to
    * ~10^13 input rows. */
  val MaxBroadcastCarryRows: Long = 2000000L

  /** Materialize the model-sized carry table and pick the join strategy
    * from its MEASURED size: persist + count (the aggregate runs exactly
    * once, outside any broadcast-build timeout), then broadcast-hint only
    * under the row bound. */
  private def carrySide(offsets: DataFrame, maxBroadcastRows: Long): DataFrame = {
    val cached = graft.core.CacheRegistry.track(offsets)
    val rows = cached.count()
    if (rows <= maxBroadcastRows) broadcast(cached) else cached
  }

  /** Exclusive keyed running sum of `value`, ordered by the numeric,
    * per-key-unique `order` column: out(r) = sum of value over rows of the
    * same key strictly before r. Equals
    * `sum(value) over (partition by keys order by order rows unbounded
    * preceding to -1)` exactly. */
  def exclusivePrefixSum(df: DataFrame, keys: Seq[String], order: String,
      value: Column, out: String, chunkWidth: Long = 1024L,
      maxBroadcastCarryRows: Long = MaxBroadcastCarryRows): DataFrame = {
    require(keys.nonEmpty && chunkWidth > 0)
    val kcols = keys.map(col)
    val ccols = kcols :+ col("__chunk")
    // materialized once: both the totals aggregate and the join below read
    // the cache, not the (possibly expensive) upstream plan. Narrow by
    // construction — callers pass (keys, order, value) projections.
    val withChunk = graft.core.CacheRegistry.track(df.withColumn("__chunk",
      floor(col(order) / chunkWidth).cast("long")))
    // per-(key, chunk) totals: map-side-combined hash agg, fully parallel
    val totals = withChunk.groupBy(ccols: _*).agg(sum(value).as("__ct"))
    // exclusive scan of chunk totals per key: #chunks rows, not #rows
    val carryW = Window.partitionBy(kcols: _*).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__off", coalesce(sum(col("__ct")).over(carryW), lit(0L)))
      .drop("__ct")
    val innerW = Window.partitionBy(ccols: _*).orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, -1)
    withChunk.join(carrySide(offsets, maxBroadcastCarryRows), keys :+ "__chunk")
      .withColumn(out,
        col("__off") + coalesce(sum(value).over(innerW), lit(0L)))
      .drop("__chunk", "__off")
  }

  /** Keyed `row_number() over (partition by keys order by order*)`, chunked
    * on the FIRST order column (numeric; the full order tuple must be
    * per-key-unique, e.g. tie-broken by a unique id). Row counting is
    * associative, so positions equal the direct window's exactly. */
  def keyedRowNumber(df: DataFrame, keys: Seq[String], order: Seq[String],
      out: String, chunkWidth: Long = 1024L,
      maxBroadcastCarryRows: Long = MaxBroadcastCarryRows): DataFrame = {
    require(keys.nonEmpty && order.nonEmpty && chunkWidth > 0)
    val kcols = keys.map(col)
    val ccols = kcols :+ col("__chunk")
    val withChunk = graft.core.CacheRegistry.track(df.withColumn("__chunk",
      floor(col(order.head) / chunkWidth).cast("long")))
    val counts = withChunk.groupBy(ccols: _*).agg(count(lit(1)).as("__cn"))
    val carryW = Window.partitionBy(kcols: _*).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__cn")).over(carryW), lit(0L)))
      .drop("__cn")
    val innerW = Window.partitionBy(ccols: _*).orderBy(order.map(col): _*)
    withChunk.join(carrySide(offsets, maxBroadcastCarryRows), keys :+ "__chunk")
      .withColumn(out, (col("__off") + row_number().over(innerW)).cast("int"))
      .drop("__chunk", "__off")
  }
}
