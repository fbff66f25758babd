package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{Gate, GateTuning}

/** Sketch aggregates — the scale path for cardinality and quantile
  * questions a training-data pipeline asks of a 100 TB corpus ("how many
  * distinct users/tokens", "p99 latency"), where the exact forms either
  * shuffle every distinct value (count distinct) or buffer whole groups
  * (exact percentile). Both sketches keep FIXED-size mergeable state per
  * group (HyperLogLog++ registers; a Greenwald-Khanna summary), so they
  * combine map-side and move kilobytes per group regardless of row count.
  *
  * Sketch INTERNALS aren't portable to DuckDB, so the driver queries emit
  * (a) the deterministic exact answers and (b) booleans asserting the
  * sketch landed within its published error bound of them — both fully
  * oracle-checkable (the oracle computes the exact answers and asserts the
  * bounds hold, i.e. emits TRUE). A broken sketch flips a boolean and
  * fails the hash compare. SketchesSpec additionally cross-checks the raw
  * sketch values on sf0.01.
  */
object SketchQueries {

  /** q_approx_distinct over any frame with `event_type` and `user_id`. The
    * two aggregates are joined null-safely (`<=>`): a NULL event_type is a
    * group of its own, as in the oracle's `GROUP BY 1`, and a plain
    * equi-join would drop it. The bound is checked without a division, so
    * a group whose user_ids are all NULL (exact count 0) passes instead of
    * dividing by zero. */
  private[queries] def approxDistinct(ev: DataFrame): DataFrame = {
    val sketch = ev.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        count(lit(1)).as("n"))
    val exact = ev.groupBy(col("event_type").as("exact_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    sketch.join(exact, col("event_type") <=> col("exact_type"))
      .select(col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users") - col("exact_users")).cast("double") <=
          col("exact_users") * 0.05).as("approx_ok"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HLL++ distinct users per event type at 1% target rsd. The sketch
    // EXECUTES (approx_count_distinct) and must land within 5×rsd of the
    // exact count; the emitted columns are the exact count and the bound
    // check, both of which the oracle reproduces.
    // The sketch and the exact count run as SEPARATE aggregates joined on
    // the group key (round 20): mixed into one agg, Spark's one-distinct
    // rewrite (Expand + re-group by (event_type, user_id)) evaluates the
    // HLL partial per DISTINCT-KEY group — one 2^14-register buffer per
    // (event_type, user_id) and a full register-array merge per group in
    // the final phase (jstack: HyperLogLogPlusPlusHelper.merge dominated
    // executor samples; isolated 3.2 s for a 200 K-row aggregate). Split,
    // each aggregate is one clean partial/final pass — one HLL buffer per
    // event_type per task — and the join side is |event_type| rows
    // (broadcast). Emitted values are identical: HLL register merge is
    // order-free, so the sketch estimate is the same either way.
    "q_approx_distinct" -> ((s, dir) => approxDistinct(Tables.events(s, dir))),

    // GK quantile summary: p50/p95/p99 of `value` per event type at
    // accuracy 10000 (guarantee: some element with rank within n/10000 of
    // ⌈p·n⌉). The rank check is DISTRIBUTED — the 15 sketch outputs
    // broadcast back onto the events scan and one aggregate counts rows
    // ≤/< each quantile value — no per-group buffering anywhere.
    "q_approx_quantile" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val ps = Seq(0.5, 0.95, 0.99)
      val pArr = array(ps.map(lit): _*)
      val apx = ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), pArr, lit(10000)).as("qs"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          posexplode(col("qs")).as(Seq("pi", "qv")))
      val target = ceil(element_at(pArr, col("pi") + 1) * col("n"))
      // n/10000 is the GK guarantee against the SKETCH's internal target
      // rank; that convention differs from this check's ⌈p·n⌉ by up to 1
      // rank (measured: error exactly ⌈n/10000⌉ + 0..1 at sf0.1's n≈20k,
      // where the raw n/10000 bound fails), so the portable bound is
      // n/10000 + 1, floored at 2 for small n — the same slack
      // SketchesSpec uses, for the same reason
      val eps = greatest(col("n").cast("double") / 10000.0 + 1.0, lit(2.0))
      val ranked = ev.join(broadcast(apx), "event_type")
        .groupBy(col("event_type"), col("pi"), col("qv"), col("n"))
        .agg(
          sum(when(col("value") <= col("qv"), 1L).otherwise(0L)).as("rank_le"),
          sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("rank_lt"))
        // the value's rank interval [rank_lt+1, rank_le] must intersect
        // the GK guarantee interval [target-eps, target+eps]
        .withColumn("ok",
          col("rank_le") >= target - eps && col("rank_lt") + 1 <= target + eps)
      ranked.groupBy(col("event_type"), col("n"))
        .agg(
          first(when(col("pi") === 0, col("ok")), ignoreNulls = true).as("p50_ok"),
          first(when(col("pi") === 1, col("ok")), ignoreNulls = true).as("p95_ok"),
          first(when(col("pi") === 2, col("ok")), ignoreNulls = true).as("p99_ok"))
    }),

    // Heavy hitters through a FULLY-oracled count-min sketch: exact top-10
    // users by event count plus each one's CMS estimate. The portable
    // integer hash family (CountMin's ((x mod P)·Aⱼ+Bⱼ mod P) mod w) lets
    // the oracle rebuild the IDENTICAL d×w counter table and minimum —
    // unlike HLL/GK, the sketch's own values are hash-checked, not just
    // an error-bound boolean. no_undercount (est ≥ exact) is the CMS
    // deterministic guarantee, derived independently on both sides.
    "q_heavy_hitters" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      // orderBy+limit plans TakeOrderedAndProject — no global sort
      val top10 = exact.orderBy(col("n").desc, col("user_id")).limit(10)
      val est = graft.operators.CountMin.estimates(
        ev, col("user_id"), width = 2048, depth = 4, top10.select("user_id"))
      top10.join(est, col("user_id") === col("item"))
        .select(col("user_id"), col("n"), col("cms_est"),
          (col("cms_est") >= col("n")).as("no_undercount"))
    }),

    // Frequent words two-pass: a Misra-Gries summary (k=200 counters,
    // mergeable under Spark's partial aggregation — see MisraGriesAgg)
    // proposes ≤k candidates from ONE token scan, a second exact pass
    // keeps those with true frequency > total/(k+1). The MG containment
    // guarantee makes the output EXACTLY the above-threshold set — a
    // candidate miss would drop a row and fail the hash compare — and
    // mg_ok asserts the per-item bound (never overcounts, undercounts by
    // ≤ total/(k+1)). At 100 TB the first pass moves O(k) state per
    // partition instead of shuffling every distinct token; the second
    // pass is a broadcast semi-join of ≤k words against the token scan.
    "q_frequent_words" -> ((s, dir) => {
      val k = 200
      val words = Tables.documents(s, dir)
        .select(explode(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("w0"))
        .select(lower(col("w0")).as("word"))
      val mg = udaf(new graft.functions.MisraGriesAgg(k),
        org.apache.spark.sql.Encoders.STRING)
      val summary = words.agg(mg(col("word")).as("mg"), count(lit(1)).as("total"))
        .select(col("total"), explode(col("mg")).as(Seq("word", "mg_est")))
      val exact = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
      exact.join(broadcast(summary), "word")
        .filter(col("n") > col("total") / (k + 1))
        .select(col("word"), col("n"), col("total"),
          (col("mg_est") <= col("n") &&
            col("n") - col("mg_est") <= col("total") / (k + 1)).as("mg_ok"))
    }),

    // STREAMING Misra-Gries — the same summary built INCREMENTALLY: the
    // corpus replayed as 4 doc_id-contiguous micro-batches
    // (Tables.streamDocsChunked), the k=200 MG summary living as
    // streaming-aggregation state (complete mode — O(k) state TOTAL, the
    // whole point of the sketch) merged batch by batch by Spark's partial
    // aggregation. Each trigger the sink replays the exact verify pass
    // against the static corpus and overwrites the result, so the
    // surviving artifact is the final batch's — the full corpus — and
    // must hash-equal the batch q_frequent_words above-threshold set:
    // the MG merge rule (Agarwal et al., PODS'12) keeps candidate
    // containment and the total/(k+1) deficit bound under ANY merge
    // order, including this incremental one.
    "q_streaming_frequent" -> ((s, dir) => {
      val k = 200
      def toWords(df: DataFrame): DataFrame = df
        .select(explode(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("w0"))
        .select(lower(col("w0")).as("word"))
      val mg = udaf(new graft.functions.MisraGriesAgg(k),
        org.apache.spark.sql.Encoders.STRING)
      val summary = toWords(Tables.streamDocsChunked(s, dir))
        .agg(mg(col("word")).as("mg"), count(lit(1)).as("total"))
      val exact = toWords(Tables.documents(s, dir))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      val gateDir = graft.core.TempDirs.create("graft_stream_freq_").toAbsolutePath
      Gate.run(summary, OutputMode.Complete, gateDir, GateTuning.shardedStatePartitions) { (b, batchId) =>
        val sm = b.select(col("total"), explode(col("mg")).as(Seq("word", "mg_est")))
        val verified = exact.join(broadcast(sm), "word")
          .filter(col("n") > col("total") / (k + 1))
          .select(col("word"), col("n"), col("total"),
            (col("mg_est") <= col("n") &&
              col("n") - col("mg_est") <= col("total") / (k + 1)).as("mg_ok"))
        Gate.writeBatch(OutputMode.Complete, gateDir)(verified, batchId)
      }
      Gate.readBack(s, gateDir)
    })
  )

  // the oracle computes the exact sides and asserts the bound booleans are
  // TRUE — the sketch-internal values themselves stay Spark-side
  val oracles: Map[String, String] = Map(
    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       count(*) AS n, TRUE AS approx_ok
        |FROM events GROUP BY 1""".stripMargin,

    "q_approx_quantile" ->
      """SELECT event_type, count(*) AS n,
        |       TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
        |FROM events GROUP BY 1""".stripMargin,

    // the identical sketch rebuilt: same hash family, same d*w counters,
    // same minimum — value-for-value, not a bound check
    "q_heavy_hitters" ->
      """WITH js AS (SELECT unnest(range(0, 4)) AS j),
        |h AS (
        |  SELECT user_id, j,
        |         ((user_id % 2147483647) *
        |            (CASE j WHEN 0 THEN 1299721 WHEN 1 THEN 1299743
        |                    WHEN 2 THEN 1299763 ELSE 1299791 END)
        |          + (CASE j WHEN 0 THEN 15485863 WHEN 1 THEN 15485867
        |                    WHEN 2 THEN 15485917 ELSE 15485927 END))
        |         % 2147483647 % 2048 AS bucket
        |  FROM events, js),
        |counters AS (SELECT j, bucket, count(*) AS c FROM h GROUP BY 1, 2),
        |exact AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |top10 AS (SELECT user_id, n FROM exact ORDER BY n DESC, user_id LIMIT 10),
        |est AS (
        |  SELECT tb.user_id, min(c.c) AS cms_est
        |  FROM (SELECT DISTINCT user_id, j, bucket FROM h
        |        WHERE user_id IN (SELECT user_id FROM top10)) tb
        |  JOIN counters c USING (j, bucket)
        |  GROUP BY 1)
        |SELECT t.user_id, t.n, e.cms_est, e.cms_est >= t.n AS no_undercount
        |FROM top10 t JOIN est e USING (user_id)""".stripMargin,

    // exact above-threshold set (MG guarantees candidate containment, so
    // the Spark side provably emits the same rows); the MG bound lands as
    // an asserted boolean, the sketch counters stay Spark-side
    "q_frequent_words" ->
      """WITH w AS (
        |  SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS word
        |  FROM documents),
        |t AS (SELECT count(*) AS total FROM w),
        |c AS (SELECT word, count(*) AS n FROM w GROUP BY 1)
        |SELECT word, n, total, TRUE AS mg_ok
        |FROM c, t WHERE n > total / 201.0""".stripMargin,

    // the incremental build must converge to the SAME above-threshold set
    // as the batch pass — the oracle is identical by construction
    "q_streaming_frequent" ->
      """WITH w AS (
        |  SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS word
        |  FROM documents),
        |t AS (SELECT count(*) AS total FROM w),
        |c AS (SELECT word, count(*) AS n FROM w GROUP BY 1)
        |SELECT word, n, total, TRUE AS mg_ok
        |FROM c, t WHERE n > total / 201.0""".stripMargin
  )
}
