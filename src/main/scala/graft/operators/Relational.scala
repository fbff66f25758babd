package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable DataFrame formulations of the reference's order-dependent stream
  * operators. Where the typed surface in [[graft.core.StreamOps]] realizes
  * exact list semantics on one ordered partition, these express the same
  * semantics as Catalyst window functions / joins that parallelize across a
  * cluster: state is partitioned by key and ordered within the key, which is
  * how an unbounded stream is actually sharded at 100 TB.
  *
  * Every helper takes explicit partition/order columns so the caller controls
  * the shuffle key; with a partition key the plan is a single hash exchange
  * followed by an in-partition sort (no global sort).
  */
object Relational {

  /** `keep` plus the fields of the struct `fields`, with `fields`
    * evaluated once per input row. Catalyst's `PushPredicateThroughNonJoin`
    * substitutes a projected expression into every pushed-down conjunct
    * that reads it, so an expensive projection (a 17-field `from_csv`, a
    * `get_json_object`) runs once per such conjunct and once more in the
    * projection, for every row. A generator's output is an attribute that no
    * rule inlines: `inline(array(fields))` puts the struct behind a
    * `Generate` node that yields exactly one row per input row (a null
    * struct yields a row of nulls, as `fields.*` does). Conjuncts over
    * `keep` alone still push below it. */
  def evalOnce(df: DataFrame, fields: Column, keep: Column*): DataFrame =
    df.select(keep :+ inline(array(fields)): _*)

  /** Portable fixed-point rounding: `floor(x·10ⁿ + 0.5) / 10ⁿ`. Unlike
    * `round()` (whose tie-breaking differs between Spark's BigDecimal
    * HALF_UP and DuckDB's C-double rounding — observed flips on exact
    * decimal ties like 1.5 × a 4-decimal ratio), this is a pure double
    * expression both engines evaluate bit-identically, so the oracle can
    * mirror it verbatim. */
  def roundp(c: Column, scale: Int): Column = {
    val k = math.pow(10, scale)
    floor(c * k + 0.5) / k
  }

  /** Drop consecutive duplicates of `expr` within each key, in (time,
    * tiebreak) order — the reference's `changes` / `journeyChanges` pattern
    * (a `streamFilterAcc` keeping the previous value; reference
    * `docs/Operators.md:109-119`, `examples/taxi/Taxi.hs:147-157`).
    * Implemented as `lag` + filter: fully parallel per key. First event in a
    * key always passes (lag is null). */
  def dedupConsecutive(df: DataFrame, expr: Column, partition: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn("__prev", lag(expr, 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= expr)
      .drop("__prev")
  }

  /** 1-in-n systematic sampling per key in stream order — the reference's
    * `sample` (`streamFilterAcc` countdown, `docs/Operators.md:123-129`).
    * Keeps rows 1, n+1, 2n+1, … — formulated as `(rn-1) % n == 0` so n=1
    * correctly keeps everything (`rn % n == 1` would keep nothing). */
  def sampleEveryN(df: DataFrame, n: Int, partition: Seq[Column], order: Seq[Column]): DataFrame = {
    require(n >= 1, "sample period must be >= 1")
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(((col("__rn") - 1) % n) === 0)
      .drop("__rn")
  }

  /** Falling-edge detection: emit an event when the previous value was above
    * the threshold and the current is at-or-below — the wearable
    * `stepEvent` (reference `examples/wearable/WearableExample.hs:83-84`,
    * a MATCH_RECOGNIZE-style pattern via `streamFilterAcc`). */
  def fallingEdge(df: DataFrame, value: Column, threshold: Double,
                  partition: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn("__prev", lag(value, 1).over(w))
      .filter(col("__prev") > threshold && value <= threshold)
      .drop("__prev")
  }

  /** Running fold when the accumulator is a running aggregate (`streamScan`
    * with sum/min/max/count — covers every reference example use): an
    * unbounded-preceding frame aggregate, parallel per key. */
  def runningAgg(df: DataFrame, agg: Column, outName: String,
                 partition: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outName, agg.over(w))
  }

  /** Pairwise zip join (`streamJoin`, reference
    * `FunctionalProcessing.hs:148-155`): k-th left event with k-th right
    * event, stopping at the shorter side. Global indices are assigned with
    * the two-phase scheme (range-partitioned sort, then `zipWithIndex`:
    * per-partition counts + offsets) — NO single-partition window, so both
    * sides stay fully parallel; the equi-join on the index is an ordinary
    * shuffled join. */
  def zipJoin(left: DataFrame, right: DataFrame,
              leftOrder: Seq[Column], rightOrder: Seq[Column]): DataFrame =
    withZipIndex(left, leftOrder).join(withZipIndex(right, rightOrder), "__zip_idx")
      .drop("__zip_idx")

  private def withZipIndex(df: DataFrame, order: Seq[Column]): DataFrame = {
    val sorted = df.orderBy(order: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("__zip_idx", org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex.map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
    }
    sorted.sparkSession.createDataFrame(indexed, schema)
  }

  /** Windowed theta-join — the scalable form of the reference's
    * `streamJoinE` (`FunctionalProcessing.hs:161-173`: window both sides,
    * pair windows, cartesian-filter within the pair). Both sides are
    * bucketed by their window expression and joined on window equality
    * plus the `equi` key pairs, with `theta` as the join residual —
    * Catalyst extracts the equi conjuncts into the hash-join keys and
    * applies theta post-probe, so the plan is ONE hash exchange per side
    * at any scale (never a per-window cartesian: the within-window pair
    * space is cut by the equi keys before theta sees it).
    *
    * The caller aliases the right side's columns to avoid collisions; the
    * window lands in an output column named `window`. */
  def windowedThetaJoin(left: DataFrame, right: DataFrame,
                        leftWindow: Column, rightWindow: Column,
                        equi: Seq[(Column, Column)], theta: Column): DataFrame = {
    require(!left.columns.contains("window"),
      "windowedThetaJoin writes the window into a left column named 'window' — " +
        "rename or drop the left side's existing 'window' column first")
    require(!right.columns.contains("window") && !right.columns.contains("__rw"),
      "windowedThetaJoin's join condition references 'window' and '__rw' unqualified — " +
        "a right side carrying either column would make them ambiguous; alias it first")
    val l = left.withColumn("window", leftWindow)
    val r = right.withColumn("__rw", rightWindow)
    val cond = equi.map { case (a, b) => a === b }
      .foldLeft(col("window") === col("__rw") && theta)(_ && _)
    l.join(r, cond).drop("__rw")
  }

  /** Window-pair join — the scalable form of the reference's `streamJoinW`
    * (`FunctionalProcessing.hs:175-178`: aggregate each side's window
    * wholesale, combine the pair). Each side collapses to one row per
    * window via its own map-side-combined aggregate (window lengths may
    * differ per side as long as the window keys align — the caller owns
    * both window expressions, mirroring the reference's two window
    * makers), then the per-window rows equi-join on `window`. Shuffles
    * aggregate rows, never events. */
  def windowPairJoin(left: DataFrame, right: DataFrame,
                     leftWindow: Column, rightWindow: Column,
                     leftAggs: Seq[Column], rightAggs: Seq[Column]): DataFrame = {
    require(leftAggs.nonEmpty && rightAggs.nonEmpty,
      "windowPairJoin needs at least one aggregate per side")
    left.groupBy(leftWindow.as("window")).agg(leftAggs.head, leftAggs.tail: _*)
      .join(right.groupBy(rightWindow.as("window")).agg(rightAggs.head, rightAggs.tail: _*),
        "window")
  }

  /** N-stage ordered funnel: per `key`, stage i's entry time is the
    * MINIMUM event time among events matching `stages(i)` strictly AFTER
    * that key's stage-(i−1) entry time (stage 0 is unconditioned) — the
    * classic product-analytics sequence operator, a `streamFilterAcc`
    * whose accumulator is the per-stage entry times (reference
    * `docs/Operators.md:60-80`'s accumulating filter, keyed). Returns one
    * row per key with columns `m1..mN` (null from the first unreached
    * stage on).
    *
    * Scale shape: the chained per-key window minimums share ONE partition
    * spec, so Spark plans a single hash Exchange on `key` followed by N
    * in-partition Window passes (no per-stage re-shuffle — asserted by
    * FunnelSpec), then a per-key reduction that combines map-side.
    * Per-key event counts are bounded in any real funnel, so the window
    * partitions stay small at any corpus size. */
  def funnelStages(df: DataFrame, key: Column, time: Column, stageOf: Column,
                   stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnelStages needs at least one stage")
    val w = Window.partitionBy(key)
    val staged = stages.zipWithIndex.foldLeft(df) { case (acc, (stage, i)) =>
      val cond =
        if (i == 0) stageOf === stage
        else stageOf === stage && time > col(s"m$i")
      acc.withColumn(s"m${i + 1}", min(when(cond, time)).over(w))
    }
    staged.groupBy(key)
      .agg(min(col("m1")).as("m1"),
        stages.indices.tail.map(i => min(col(s"m${i + 1}")).as(s"m${i + 1}")): _*)
  }

  /** Exact top-k rows per group by an ordering, with a deterministic
    * tiebreak — the reference's per-window `topk` (frequency ranking,
    * `examples/taxi/Taxi.hs:160-169`). `row_number` (not `rank`) so exactly
    * k rows survive per group. */
  def topKPerGroup(df: DataFrame, k: Int, partition: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .withColumnRenamed("__rank", "rank")
  }

  /** Skew-salted equi-join: spread a hot key across `salts` sub-keys by
    * salting the big (skewed) side deterministically and replicating the
    * small side once per salt. Same result as the plain join, but the
    * shuffle partitions for a hot key shrink by `salts`× — the manual
    * fallback when AQE's skew-join splitting isn't available (e.g.
    * non-AQE engines or stream-static joins). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int,
                 saltCols: Seq[String] = Nil): DataFrame = {
    // the salt must be a DETERMINISTIC function of row content:
    // monotonically_increasing_id varies across task re-attempts, so a
    // partial stage retry would re-salt recomputed rows into different
    // sub-keys and the retried reduce partitions would drop/duplicate rows
    // (the SPARK-23207 failure class).
    //
    // `saltCols` picks which columns feed the hash. Default: every
    // hashable non-key column (xxhash64 fails analysis on MapType, and
    // hashing the join key alone would put a hot key on ONE salt —
    // useless). Callers whose hot keys consist of fully IDENTICAL rows
    // (same values in every column) should pass a high-cardinality
    // distinguishing column here if one exists; rows identical in the
    // hashed columns inevitably share a salt.
    import org.apache.spark.sql.types._
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType      => true
      case a: ArrayType    => hasMap(a.elementType)
      case s: StructType   => s.fields.exists(f => hasMap(f.dataType))
      case _               => false
    }
    val hashable = big.schema.fields
      .filter(f => f.name != key && !hasMap(f.dataType))
      .map(_.name).toSeq
    val chosen = if (saltCols.nonEmpty) saltCols else hashable
    require(chosen.nonEmpty,
      "saltedJoin: no hashable non-key columns to salt on; pass saltCols explicitly")
    val salted = big.withColumn("__salt",
      pmod(xxhash64(chosen.map(col): _*), lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** `chopTime` with the reference's FIRST-EVENT alignment
    * (`FunctionalProcessing.hs:118-129`): non-overlapping fixed-duration
    * windows anchored at the stream's (or key's) first event timestamp,
    * not at the epoch like Spark's `window()`. Adds `window_start`.
    * Scalable form: per-key min over an unframed window (one hash
    * exchange), then integer bucket arithmetic — no second shuffle. */
  def chopTimeAligned(df: DataFrame, ts: Column, durationMs: Long,
                      partition: Seq[Column]): DataFrame = {
    val w = if (partition.isEmpty) Window.partitionBy() else Window.partitionBy(partition: _*)
    val durUs = durationMs * 1000
    df.withColumn("__first_us", min(unix_micros(ts)).over(w))
      .withColumn("__bucket", floor((unix_micros(ts) - col("__first_us")) / durUs))
      .withColumn("window_start",
        timestamp_micros((col("__first_us") + col("__bucket") * durUs).cast("long")))
      .drop("__first_us", "__bucket")
  }

  /** As-of join: attach to each left row the MOST RECENT right row with
    * `right.ts <= left.ts` within the same key — the standard
    * point-in-time enrichment (fills the "no as-of join as an engine
    * primitive" gap SURVEY §2.6 notes for the reference, whose only joins
    * are zip/windowed).
    *
    * Implemented join-free with the union trick: tag both sides, union,
    * ONE hash exchange on the key, one in-partition sort by
    * `(ts, side, rightOrder)` (right rows sort before left rows at equal
    * timestamps, so "at-or-before" includes same-instant right events),
    * then a running `last(right_payload, ignoreNulls)` window carries the
    * latest right payload forward onto each left row. No theta join, no
    * per-left-row probe: at 100 TB this is exactly one shuffle of
    * |left| + |right| rows, skew-bounded by the key like any keyed window.
    * Left rows with no prior right row carry nulls (left-outer
    * semantics); filter the null payload for inner semantics.
    *
    * Both inputs must carry `key` and `ts` columns under those names;
    * `rightCols` (the payload to attach) must not collide with left's
    * columns. `rightOrder` optionally names a rightCols member used to
    * break ties among right rows sharing (key, ts) — larger wins. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightCols: Seq[String], rightOrder: Option[String] = None): DataFrame = {
    require(rightCols.nonEmpty, "asofJoin needs at least one right payload column")
    require(rightOrder.forall(rightCols.contains),
      "rightOrder must name a rightCols member")
    val lStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    val rStruct = struct(rightCols.map(col): _*)
    val lType = left.select(lStruct).schema.head.dataType
    val rType = right.select(rStruct).schema.head.dataType
    val l = left.select(col(key).as("__k"), col(ts).as("__ts"), lit(1).as("__side"),
      lStruct.as("__l"), lit(null).cast(rType).as("__r"))
    val r = right.select(col(key).as("__k"), col(ts).as("__ts"), lit(0).as("__side"),
      lit(null).cast(lType).as("__l"), rStruct.as("__r"))
    // Tiebreak column is null on the left side, but it sorts AFTER __side,
    // which already strictly orders right-before-left within a timestamp —
    // it only disambiguates among right rows.
    val order = Seq(col("__ts"), col("__side")) ++
      rightOrder.map(c => col(s"__r.$c")).toSeq
    val w = Window.partitionBy(col("__k")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*") +: rightCols.map(c => col(s"__m.$c").as(c)): _*)
  }

  /** Banded range join: all (left, right) pairs sharing `key` whose
    * timestamps lie within `toleranceMs` of each other. A naive plan
    * equi-joins on the key alone and filters — per hot key that
    * materializes the full |L_k|×|R_k| cartesian before the time filter
    * prunes it, which dies on a 100 TB skewed key. This formulation bands
    * time into tolerance-sized buckets: the left side keeps its one band,
    * the right side replicates into its band ±1 (3×|R| rows), and the join
    * becomes a plain equi-join on (key, band) — each within-tolerance pair
    * matches EXACTLY one replica (bands are disjoint), so no dedup pass is
    * needed, and per-shuffle-partition work is bounded by temporal
    * neighborhood density instead of key cardinality squared.
    *
    * Both inputs must carry `key` and `ts` under those names; `rightCols`
    * is the right payload to attach (no collisions with left's columns —
    * alias on the way in). The refine filter keeps |Δt| ≤ tolerance. */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
                toleranceMs: Long, rightCols: Seq[String]): DataFrame = {
    require(toleranceMs > 0, "rangeJoin tolerance must be positive")
    val tolUs = toleranceMs * 1000
    val l = left.withColumn("__band", floor(unix_micros(col(ts)) / tolUs))
    val rBand = floor(unix_micros(col("__rts")) / tolUs)
    val r = right.select(col(key).as("__rk") +: col(ts).as("__rts") +: rightCols.map(col): _*)
      .withColumn("__band", explode(array(rBand - 1, rBand, rBand + 1)))
    l.join(r, col(key) === col("__rk") && l("__band") === r("__band"))
      .filter(abs(unix_micros(col(ts)) - unix_micros(col("__rts"))) <= tolUs)
      .drop("__band", "__rk", "__rts")
  }

  /** The reference's exact `median`: the UPPER middle element of the sorted
    * list (index ⌊n/2⌋, zero-based) — NOT an interpolated percentile
    * (`examples/taxi/Taxi.hs:272-274`). Aggregate expression usable in any
    * groupBy: `sort_array(collect_list(x))[floor(n/2)]`. */
  def medianUpper(value: Column): Column = {
    val sorted = sort_array(collect_list(value))
    // element_at is 1-based; reference index is 0-based floor(n/2).
    // try_element_at: a group whose values are all null collects an empty
    // array, and under Spark 4's default ANSI mode plain element_at would
    // abort the query with INVALID_ARRAY_INDEX — the median of nothing is
    // null, not an error.
    try_element_at(sorted, (floor(size(sorted) / 2) + 1).cast("int"))
  }

  /** CDC merge / upsert — apply a changeset to a base table (the corpus-
    * refresh operator every training-data pipeline runs between crawls):
    * `changes` carries the key, an `op` column (`'U'` = insert-or-update,
    * `'D'` = delete) and the base's payload columns; the result is base
    * rows untouched or replaced, minus deleted keys, plus inserted ones
    * (a delete of an absent key is a no-op). Expressed as ONE full outer
    * join co-keyed on `key` — both sides shuffle once on the key (zero
    * shuffles when base is bucketed by it, see `sources.BucketedIO`),
    * which is the SQL MERGE / Delta-style upsert shape left declarative
    * so Catalyst/AQE pick broadcast vs sort-merge from the changeset
    * size. Cardinality contract as in SQL MERGE: at most one change row
    * per key (dedupe by version upstream, e.g. [[topKPerGroup]]);
    * violations surface as duplicated keys rather than silent picks. */
  def mergeUpsert(base: DataFrame, changes: DataFrame, key: String,
                  op: String = "op"): DataFrame = {
    val payload = base.columns.filterNot(_ == key).toIndexedSeq
    require(payload.nonEmpty, "mergeUpsert needs at least one payload column")
    val b = base.select(col(key).as("__k"),
      struct(payload.map(col): _*).as("__b"))
    val c = changes.select(col(key).as("__k"), col(op).as("__op"),
      struct(payload.map(col): _*).as("__c"))
    b.join(c, Seq("__k"), "full_outer")
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(col("__k").as(key),
        when(col("__op") === "U", col("__c")).otherwise(col("__b")).as("__row"))
      .select(col(key) +: payload.map(p => col(s"__row.$p").as(p)): _*)
  }
}
