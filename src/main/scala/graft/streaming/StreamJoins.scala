package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Streaming windowed joins: the reference's `streamJoinE` (window both
  * sides, pair windows, theta-join within the pair —
  * `FunctionalProcessing.hs:161-173`) maps to Spark's stream-stream join
  * with event-time range constraints + watermarks: events join when their
  * event times fall in the same window-sized band, and the watermark bounds
  * the buffered state on both sides. `streamJoinW` (pair both sides' window
  * aggregates) needs no join at all: it is one streaming aggregation over
  * the union of the two sides, [[StreamJoins.windowAggJoin]]. */
object StreamJoins {

  /** Stream-stream equi+interval join: rows join when keys match AND the
    * right event time is within [left - windowMs, left + windowMs]. Both
    * sides must carry an event-time column named in ts{Left,Right}. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   tsLeft: String, tsRight: String,
                   watermark: String, windowMs: Long,
                   keys: Column): DataFrame = {
    val l = left.withWatermark(tsLeft, watermark)
    val r = right.withWatermark(tsRight, watermark)
    l.join(r, keys &&
      col(tsRight) >= col(tsLeft) - expr(s"INTERVAL ${windowMs} MILLISECONDS") &&
      col(tsRight) <= col(tsLeft) + expr(s"INTERVAL ${windowMs} MILLISECONDS"))
  }

  /** `streamJoinE`-shaped streaming join (reference
    * `FunctionalProcessing.hs:161-173`: window both sides, pair equal
    * windows, cartesian theta-join within the pair): each side is bucketed
    * into its tumbling event-time window, and the stream-stream join pairs
    * rows whose WINDOWS are equal and the theta predicate holds. Window
    * equality gives Spark the state-cleanup bound it needs (both sides'
    * buffered rows are dropped once the watermark passes their window), so
    * state is O(events per window), not O(stream) — the streaming twin of
    * the batch row-level `streamJoinE` lowering. Matched pairs emit as they
    * arrive (inner join), so on a finite replay the emitted set equals the
    * batch join exactly.
    *
    * Each side's raw timestamp column is CONSUMED into its window struct
    * (the struct inherits the event-time watermark metadata, and a side
    * carrying both would have two event-time columns — Spark rejects
    * that); the joined result keeps the shared window as `w` for callers
    * to project (`w.start` = the epoch-aligned bucket start). */
  def windowThetaJoin(left: DataFrame, right: DataFrame,
                      tsLeft: String, tsRight: String,
                      duration: String, watermark: String,
                      theta: Column): DataFrame = {
    val l = left.withWatermark(tsLeft, watermark)
      .withColumn("w", window(col(tsLeft), duration)).drop(tsLeft)
    val r = right.withWatermark(tsRight, watermark)
      .withColumn("__rw", window(col(tsRight), duration)).drop(tsRight)
    l.join(r, col("w") === col("__rw") && theta).drop("__rw")
  }

  /** `streamJoinW`-shaped streaming join: aggregate both sides per tumbling
    * window and pair the window aggregates (window-level combination,
    * `FunctionalProcessing.hs:175-178`). Equal-duration convenience form of
    * the two-duration overload below. */
  def windowAggJoin(left: DataFrame, right: DataFrame,
                    tsLeft: String, tsRight: String,
                    duration: String, watermark: String,
                    leftAggs: Seq[Column], rightAggs: Seq[Column]): DataFrame =
    windowAggJoin(left, right, tsLeft, tsRight, duration, duration, watermark,
      leftAggs, rightAggs)

  /** `streamJoinW` with DIFFERING per-side window lengths — the reference's
    * flagship use joins a 15-min window against a 30-min window (Taxi Q2,
    * `examples/taxi/Taxi.hs:299-305`) — as ONE streaming aggregation over
    * both sides. Each side keeps its own watermark (Spark takes the min),
    * is tagged with its side and unioned by name. Rows group by (coarse
    * window, fine slot, keys…): a fine-side row falls in its own slot, a
    * coarse-side row is fanned out to every slot of its coarse window (the
    * coarser duration must be a multiple of the finer). Every aggregate call
    * of a side is restricted to that side's rows with an aggregate FILTER
    * ([[org.apache.spark.sql.graftbridge.Bridge.filterAggregates]]), so a
    * side's aggregate never reads the other side's rows; one that cannot be
    * restricted fails here. A group with rows from both sides and no null
    * key is the inner join's pair (the reference's window-level
    * combination). Output: `w` (the coarse window), the keys, the finer
    * side's own window (`wl`/`wr`, rebuilt from the slot), then each side's
    * aggregates, in the order and under the names of their columns; a side
    * as coarse as the other has no window of its own.
    *
    * Timing: a pair emits once the watermark passes the end of its COARSE
    * window, and an input row is dropped as late only once the watermark has
    * passed its coarse window, so a fine-side row behind its own fine window
    * still counts while its coarse window is open. Columns the two sides
    * share by name become one column of the union, so they must have
    * compatible types.
    *
    * Scale note: the aggregation is partial (map-side combine) before its
    * shuffle, and its state is one row per (coarse window, slot, key) in the
    * watermark horizon: O(windows × keys), not O(events). A coarse-side row
    * is counted in each of its window's slots (2 for Taxi Q2). */
  def windowAggJoin(left: DataFrame, right: DataFrame,
                    tsLeft: String, tsRight: String,
                    durationLeft: String, durationRight: String,
                    watermark: String,
                    leftAggs: Seq[Column], rightAggs: Seq[Column],
                    keys: Seq[String] = Nil): DataFrame = {
    val lMs = durationMs(durationLeft)
    val rMs = durationMs(durationRight)
    require(math.max(lMs, rMs) % math.min(lMs, rMs) == 0,
      s"finer window must align into the coarser grid (got $durationLeft vs $durationRight)")
    val coarse = if (lMs >= rMs) durationLeft else durationRight
    val fineUs = math.min(lMs, rMs) * 1000L
    val slots = math.max(lMs, rMs) / math.min(lMs, rMs)
    val start = unix_micros(col("__w.start"))
    def tag(df: DataFrame, ts: String, side: Int, fine: Boolean): DataFrame = {
      val slot = if (fine) floor((unix_micros(col(ts)) - start) / fineUs)
                 else if (slots == 1) lit(0L) else explode(sequence(lit(0L), lit(slots - 1)))
      df.withWatermark(ts, watermark).withColumn("__w", window(col(ts), coarse))
        .withColumn("__side", lit(side)).withColumn("__slot", slot)
    }
    val sides = tag(left, tsLeft, 0, lMs < rMs)
      .unionByName(tag(right, tsRight, 1, rMs < lMs), allowMissingColumns = true)
      .filter(keys.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
    def onSide(aggs: Seq[Column], side: Int) =
      aggs.map(Bridge.filterAggregates(sides, _, col("__side") === side))
    val grouped = sides.groupBy(col("__w") +: col("__slot") +: keys.map(col): _*)
      .agg(min("__side").as("__lo"), max("__side").as("__hi") +: (onSide(leftAggs, 0) ++ onSide(rightAggs, 1)): _*)
    // aggregate columns by position: two sides may name theirs alike
    val named = grouped.columns.drop(keys.size + 4)
    val paired = grouped.toDF(grouped.columns.take(keys.size + 4) ++ named.indices.map(i => s"__a$i"): _*)
      .filter(col("__lo") < col("__hi"))
    val fineW = struct(timestamp_micros(start + col("__slot") * fineUs).as("start"),
      timestamp_micros(start + (col("__slot") + 1) * fineUs).as("end"))
    def aggCols(from: Int, n: Int) = (from until from + n).map(i => col(s"__a$i").as(named(i)))
    paired.select(Seq(col("__w").as("w")) ++ keys.map(col) ++
      (if (lMs < rMs) Seq(fineW.as("wl")) else Nil) ++ aggCols(0, leftAggs.size) ++
      (if (rMs < lMs) Seq(fineW.as("wr")) else Nil) ++ aggCols(leftAggs.size, rightAggs.size): _*)
  }

  /** Fixed-length interval string ("15 minutes") → milliseconds. Month-based
    * units are rejected: a tumbling grid needs a fixed length. */
  private[streaming] def durationMs(d: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(d))
    require(iv.months == 0, s"month-based window duration not supported: $d")
    iv.days * 86400000L + iv.microseconds / 1000L
  }
}
