package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
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
  * Plan shape: both primitives are one chunked scan ([[chunked]]) that
  * differs only in the per-chunk total and the within-chunk expression.
  * The chunked input feeds TWO consumers — the per-chunk totals aggregate
  * and the final join+window. Left to Catalyst, both re-execute the whole
  * upstream plan (each branch is pruned and inferred differently, so the
  * two exchange subtrees never canonicalize equal and AQE stage reuse
  * cannot dedupe them); for q_export, whose upstream is the full dedup
  * keep-list join + tokenize, that double scan measured 5.8 s vs the
  * direct window's 3.1 s at sf0.1. The chunked input is therefore
  * persisted once and registered with [[graft.core.CacheRegistry]]
  * (release it with `unpersistAll`; Bench/Verify's per-query `clearCache`
  * already does). The carry table — #distinct (keys, chunk) rows =
  * input_rows / chunkWidth — has one consumer and is neither persisted
  * nor hinted: Spark picks the carry join. `JoinSelection` broadcasts a
  * side whose estimate is under `spark.sql.autoBroadcastJoinThreshold`,
  * and AQE re-picks from the measured stages
  * (`spark.sql.adaptive.autoBroadcastJoinThreshold`), so that threshold
  * bounds every broadcast at any input size. An input over it keeps the
  * skew bound: with the carry broadcast, the input is exchanged exactly
  * once, on (keys, __chunk), for the within-chunk window; with neither
  * side broadcast, the shuffled join co-partitions on all its keys
  * (`spark.sql.requireAllClusterKeysForCoPartition`), the same single
  * exchange. An input under the threshold may be the side AQE broadcasts
  * instead (every chunked query at sf0.1): it is then never exchanged, and
  * the window runs on the carry's key partitioning. Building either
  * result is lazy: no Spark job runs before an action on it.
  *
  * Chunk width trades task granularity against carry-table size: the toy
  * default (1024 ids) makes even sf0.1 cross chunk boundaries, so the
  * DuckDB oracles exercise the carry path, not just the degenerate
  * one-chunk case. A 100 TB deployment sizes width so a chunk's rows fit a
  * task (e.g. 1-10 M ids).
  */
object ScalableWindows {

  /** Exclusive keyed running sum of `value`, ordered by the numeric,
    * per-key-unique `order` column: out(r) = sum of value over rows of the
    * same key strictly before r. Equals
    * `sum(value) over (partition by keys order by order rows unbounded
    * preceding to -1)` exactly. */
  def exclusivePrefixSum(df: DataFrame, keys: Seq[String], order: String,
      value: Column, out: String, chunkWidth: Long = 1024L): DataFrame =
    chunked(df, keys, order, chunkWidth, sum(value), out) { (off, chunk) =>
      off + coalesce(sum(value).over(chunk.orderBy(col(order))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    }

  /** Keyed `row_number() over (partition by keys order by order*)`, chunked
    * on the FIRST order column (numeric; the full order tuple must be
    * per-key-unique, e.g. tie-broken by a unique id). Row counting is
    * associative, so positions equal the direct window's exactly. */
  def keyedRowNumber(df: DataFrame, keys: Seq[String], order: Seq[String],
      out: String, chunkWidth: Long = 1024L): DataFrame = {
    require(order.nonEmpty)
    chunked(df, keys, order.head, chunkWidth, count(lit(1)), out) { (off, chunk) =>
      (off + row_number().over(chunk.orderBy(order.map(col): _*))).cast("int")
    }
  }

  /** The chunked scan: chunk each key's rows by `floor(chunkOn /
    * chunkWidth)`, persist that once, aggregate `total` per (keys, chunk),
    * exclusive-scan the totals per key into a carry offset, join the carry
    * back and set `out` to `within(offset, window over (keys, chunk))`. */
  private def chunked(df: DataFrame, keys: Seq[String], chunkOn: String,
      chunkWidth: Long, total: Column, out: String)(
      within: (Column, WindowSpec) => Column): DataFrame = {
    require(keys.nonEmpty && chunkWidth > 0)
    val kcols = keys.map(col)
    val ccols = kcols :+ col("__chunk")
    // narrow by construction — callers pass (keys, order, value) projections
    val withChunk = graft.core.CacheRegistry.track(df.withColumn("__chunk",
      floor(col(chunkOn) / chunkWidth).cast("long")))
    // per-(key, chunk) totals (map-side-combined hash agg, fully parallel),
    // then their exclusive scan per key: #chunks rows, not #rows
    val carryW = Window.partitionBy(kcols: _*).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withChunk.groupBy(ccols: _*).agg(total.as("__ct"))
      .withColumn("__off", coalesce(sum(col("__ct")).over(carryW), lit(0L)))
      .drop("__ct")
    withChunk.join(offsets, keys :+ "__chunk")
      .withColumn(out, within(col("__off"), Window.partitionBy(ccols: _*)))
      .drop("__chunk", "__off")
  }
}
