package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.examples.Taxi
import graft.operators.Relational
import graft.operators.Relational.roundp
import graft.streaming.{Gate, GateTuning}

/** The reference's flagship DEBS 2015 taxi queries re-shaped onto the
  * `events` table (no taxi CSV in the testdata): trip coordinates are
  * derived DETERMINISTICALLY from driver-generated columns (value,
  * user_id, props.k), then the reference pipelines run unchanged —
  * Q1 "frequent routes" (`Taxi.hs:172-178`): cell-map → range filter →
  * window → per-route counts → exact top-10; Q2 "profitable cells"
  * (`Taxi.hs:295-305`): median profit per cell joined against
  * empty-taxi counts over a DIFFERENT window length, then ranked.
  *
  * All plans shuffle once per aggregate on (window, cell…) keys, the
  * natural sharding at scale; the top-k is a per-window rank, not a global
  * sort.
  */
object TaxiQueries {

  /** Deterministic synthetic geo: fractional part of `value` spreads
    * ±0.5° around the grid centre; user_id/props.k give the other axes.
    * Mirrored verbatim in the oracle SQL. */
  private[queries] def withGeo(df: DataFrame): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    df.withColumn("p_lat", lit(Taxi.Centre11Lat) + (col("value") - floor(col("value"))) - 0.5)
      .withColumn("p_lon", lit(Taxi.Centre11Lon) + ((col("user_id") % 200) / 200.0) - 0.5)
      .withColumn("d_lat", lit(Taxi.Centre11Lat) + ((k % 100) / 100.0) - 0.5)
      .withColumn("d_lon", lit(Taxi.Centre11Lon) + (((col("user_id") * 13 + k) % 400) / 400.0) - 0.5)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // toCell + inRange (Taxi.hs:98-118): map to Q1 cells, drop out-of-grid.
    "q_taxi_cells" -> ((s, dir) => {
      val g = withGeo(Tables.events(s, dir))
        .select(col("event_id"),
          Taxi.cellLatQ1(col("p_lat")).as("s_clat"), Taxi.cellLonQ1(col("p_lon")).as("s_clon"),
          Taxi.cellLatQ1(col("d_lat")).as("e_clat"), Taxi.cellLonQ1(col("d_lon")).as("e_clon"))
      g.filter(Taxi.inRangeQ1(col("s_clat"), col("s_clon")) &&
               Taxi.inRangeQ1(col("e_clat"), col("e_clon")))
    }),

    // Q1 frequent routes (Taxi.hs:172-178): per 30-min window, exact top-10
    // routes by frequency, deterministic tiebreak.
    "q_taxi_q1" -> ((s, dir) => {
      val journeys = withGeo(Tables.events(s, dir))
        .select(col("ts"),
          Taxi.cellLatQ1(col("p_lat")).as("s_clat"), Taxi.cellLonQ1(col("p_lon")).as("s_clon"),
          Taxi.cellLatQ1(col("d_lat")).as("e_clat"), Taxi.cellLonQ1(col("d_lon")).as("e_clon"))
        .filter(Taxi.inRangeQ1(col("s_clat"), col("s_clon")) &&
                Taxi.inRangeQ1(col("e_clat"), col("e_clon")))
      val counts = journeys
        .groupBy(window(col("ts"), "30 minutes").as("w"),
          col("s_clat"), col("s_clon"), col("e_clat"), col("e_clon"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("s_clat"), col("s_clon"),
          col("e_clat"), col("e_clon"), col("n"))
      Relational.topKPerGroup(counts, 10, Seq(col("window_start")),
        Seq(col("n").desc, col("s_clat"), col("s_clon"), col("e_clat"), col("e_clon")))
    }),

    // Q2's empty-taxi logic, faithfully shaped
    // (newestPickup/taxisDroppedOffandNotPickedUp, Taxi.hs:257-287): a
    // dropoff (purchase) counts as an empty taxi in its cell iff the taxi
    // (user) has NO later pickup (click) at that cell in the window —
    // max-pickup-per-(cell,user) left-joined against dropoffs, inequality
    // filtered, counted per cell.
    "q_taxi_empty" -> ((s, dir) => {
      val g = withGeo(Tables.events(s, dir))
        .select(col("ts"), col("user_id"), col("event_type"),
          Taxi.cellLatQ2(col("p_lat")).as("clat"), Taxi.cellLonQ2(col("p_lon")).as("clon"))
        .filter(Taxi.inRangeQ2(col("clat"), col("clon")))
        .withColumn("w", window(col("ts"), "30 minutes"))
      val newestPickup = g.filter(col("event_type") === "click")
        .groupBy(col("w"), col("clat"), col("clon"), col("user_id"))
        .agg(max(col("ts")).as("newest_pickup"))
      val dropoffs = g.filter(col("event_type") === "purchase")
      dropoffs.join(newestPickup, Seq("w", "clat", "clon", "user_id"), "left")
        .filter(col("newest_pickup").isNull || col("newest_pickup") < col("ts"))
        .groupBy(col("w"), col("clat"), col("clon"))
        .agg(count(lit(1)).as("n_empty"))
        .select(col("w.start").as("window_start"), col("clat"), col("clon"), col("n_empty"))
    }),

    // Q2 profitable cells (Taxi.hs:269-305): profit = exact upper-median of
    // fare+tip per pickup cell over a 15-min window; empty taxis per
    // dropoff cell over a 30-min window; profitability = profit/empty where
    // the window starts align (the reference pairs windows of DIFFERENT
    // lengths via its zip join).
    "q_taxi_q2" -> ((s, dir) => {
      val g = withGeo(Tables.events(s, dir))
      val profit = g
        .select(col("ts"), col("value"),
          Taxi.cellLatQ2(col("p_lat")).as("clat"), Taxi.cellLonQ2(col("p_lon")).as("clon"))
        .filter(Taxi.inRangeQ2(col("clat"), col("clon")))
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("clat"), col("clon"))
        .agg(Relational.medianUpper(col("value")).as("profit"))
        .select(col("w.start").as("window_start"), col("clat"), col("clon"), col("profit"))
      val empty = g
        .filter(col("event_type") === "error") // stand-in for empty-taxi dropoffs
        .select(col("ts"),
          Taxi.cellLatQ2(col("d_lat")).as("clat"), Taxi.cellLonQ2(col("d_lon")).as("clon"))
        .filter(Taxi.inRangeQ2(col("clat"), col("clon")))
        .groupBy(window(col("ts"), "30 minutes").as("w"), col("clat"), col("clon"))
        .agg(count(lit(1)).as("n_empty"))
        .select(col("w.start").as("window_start"), col("clat"), col("clon"), col("n_empty"))
      empty.join(profit, Seq("window_start", "clat", "clon"), "left")
        .withColumn("profitability",
          roundp(coalesce(col("profit"), lit(0.0)) / col("n_empty"), 4))
        .select(col("window_start"), col("clat"), col("clon"), col("n_empty"),
          roundp(coalesce(col("profit"), lit(0.0)), 2).as("profit"), col("profitability"))
    }),

    // COMPOSED STREAMING FLAGSHIP — the full Q1 pipeline (Taxi.hs:172-178:
    // cell-map → range filter → window → per-route counts → exact top-10)
    // through ONE watermarked streaming query, proving the operators compose
    // under watermarks rather than only gating individually. The stateless
    // geo/cell projections and the range filter fuse into the streaming
    // scan; the 30-min tumbling per-route count is the single stateful
    // aggregate (append mode — a window's counts emit exactly once, when the
    // watermark passes its end); the exact top-10 rank runs per FINALIZED
    // window in the sink, which is sound because the watermark closes a
    // window for EVERY route key at the same batch — all rows of a window
    // arrive together. Oracle = the batch q_taxi_q1 oracle minus windows the
    // final replay watermark (max ts − 1 min) has not closed.
    "q_streaming_taxi_q1" -> ((s, dir) => {
      // The watermark horizon is driven by IN-GRID JOURNEYS, not the raw
      // stream: Catalyst pushes any non-event-time predicate below the
      // EventTimeWatermark node (PushPredicateThroughNonJoin), so even a
      // watermark declared on the raw stream tracks post-filter rows —
      // measured: both placements yield the identical final watermark. The
      // oracle therefore keys its closed-window horizon on max(journey ts),
      // the semantics Spark actually executes.
      val journeys = withGeo(Tables.streamEventsChunked(s, dir))
        .select(col("ts"),
          Taxi.cellLatQ1(col("p_lat")).as("s_clat"), Taxi.cellLonQ1(col("p_lon")).as("s_clon"),
          Taxi.cellLatQ1(col("d_lat")).as("e_clat"), Taxi.cellLonQ1(col("d_lon")).as("e_clon"))
        .filter(Taxi.inRangeQ1(col("s_clat"), col("s_clon")) &&
                Taxi.inRangeQ1(col("e_clat"), col("e_clon")))
      val counts = journeys.withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "30 minutes").as("w"),
          col("s_clat"), col("s_clon"), col("e_clat"), col("e_clon"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("s_clat"), col("s_clon"),
          col("e_clat"), col("e_clon"), col("n"))
      val gateDir = graft.core.TempDirs.create("graft_stream_taxi1_").toAbsolutePath
      Gate.run(counts, OutputMode.Append, gateDir, GateTuning.statePartitions) { (b, batchId) =>
        val top = Relational.topKPerGroup(b, 10, Seq(col("window_start")),
          Seq(col("n").desc, col("s_clat"), col("s_clon"), col("e_clat"), col("e_clon")))
        Gate.writeBatch(OutputMode.Append, gateDir)(top, batchId)
      }
      Gate.readBack(s, gateDir)
    }),

    // COMPOSED STREAMING FLAGSHIP #2 — the full Q2 pipeline (Taxi.hs:
    // 269-305: per-cell 15-min profit median vs per-cell 30-min empty-taxi
    // counts, window-level combination, profitability rank inputs) through
    // ONE watermarked streaming query: TWO keyed windowed aggregates of
    // DIFFERENT durations chained into a stream-stream join (Spark 4
    // multi-stateful-operator support), exercising the keyed
    // `windowAggJoin`. A (coarse-window, cell) pair emits once the
    // watermark passes the coarse window's end — which implies every
    // contained fine window closed too. Inner join (cells with both a
    // profit and an empty-taxi reading — the cells Q2 actually ranks); the
    // oracle mirrors the pairing and subtracts windows the final replay
    // watermark (min of the two sides' max post-filter ts − 1 min, the min
    // over per-side watermark nodes Spark takes) has not closed.
    //
    // DEBS Q2 pairs profit and empty-taxis in the SAME cell (a taxi whose
    // last drop-off was in the cell trips now start from), so both sides
    // key on the p_lat/p_lon-derived cell: the synthetic d_* coordinates
    // are drawn from a spatially DISJOINT distribution (measured: 0
    // same-cell pairs at sf0.01) and stand in for dropoffs only in the
    // single-sided q_taxi_empty/q_taxi_q2 aggregates.
    "q_streaming_taxi_q2" -> ((s, dir) => {
      val g = withGeo(Tables.streamEventsChunked(s, dir))
      val profitSide = g
        .select(col("ts"), col("value"),
          Taxi.cellLatQ2(col("p_lat")).as("clat"), Taxi.cellLonQ2(col("p_lon")).as("clon"))
        .filter(Taxi.inRangeQ2(col("clat"), col("clon")))
      val emptySide = g
        .filter(col("event_type") === "error") // stand-in for empty taxis
        .select(col("ts"),
          Taxi.cellLatQ2(col("p_lat")).as("clat"), Taxi.cellLonQ2(col("p_lon")).as("clon"))
        .filter(Taxi.inRangeQ2(col("clat"), col("clon")))
      val joined = graft.streaming.StreamJoins.windowAggJoin(
        profitSide, emptySide, tsLeft = "ts", tsRight = "ts",
        durationLeft = "15 minutes", durationRight = "30 minutes",
        watermark = "1 minute",
        leftAggs = Seq(Relational.medianUpper(col("value")).as("profit")),
        rightAggs = Seq(count(lit(1)).as("n_empty")),
        keys = Seq("clat", "clon"))
        .withColumn("profitability", roundp(col("profit") / col("n_empty"), 4))
        .select(col("w.start").as("window_start"), col("wl.start").as("sub_start"),
          col("clat"), col("clon"), col("n_empty"),
          roundp(col("profit"), 2).as("profit"), col("profitability"))
      Gate.toParquet(joined, OutputMode.Append, "graft_stream_taxi2_", GateTuning.statePartitions)
    })
  )

  private val Geo =
    """CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |41.474937 + (value - floor(value)) - 0.5 AS p_lat,
      |-74.913585 + ((user_id % 200) / 200.0) - 0.5 AS p_lon""".stripMargin

  // origin = centre + side/2 (lat), centre - side/2 (lon); Q1 sides
  // 0.004491556 × 0.005986, Q2 half.
  private def cellSql(latExpr: String, lonExpr: String, latSide: String, lonSide: String,
                      latName: String, lonName: String) =
    s"""CAST(floor(((41.474937 + 0.004491556/2) - ($latExpr)) / $latSide) + 1 AS INT) AS $latName,
       |CAST(floor((($lonExpr) - (-74.913585 - 0.005986/2)) / $lonSide) + 1 AS INT) AS $lonName""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_taxi_cells" ->
      s"""WITH geo AS (
         |  SELECT event_id, $Geo,
         |         41.474937 + ((CAST(json_extract_string(props, '$$.k') AS INT) % 100) / 100.0) - 0.5 AS d_lat,
         |         -74.913585 + (((user_id * 13 + CAST(json_extract_string(props, '$$.k') AS INT)) % 400) / 400.0) - 0.5 AS d_lon
         |  FROM events),
         |cells AS (
         |  SELECT event_id,
         |    ${cellSql("p_lat", "p_lon", "0.004491556", "0.005986", "s_clat", "s_clon")},
         |    ${cellSql("d_lat", "d_lon", "0.004491556", "0.005986", "e_clat", "e_clon")}
         |  FROM geo)
         |SELECT * FROM cells
         |WHERE s_clat BETWEEN 1 AND 300 AND s_clon BETWEEN 1 AND 300
         |  AND e_clat BETWEEN 1 AND 300 AND e_clon BETWEEN 1 AND 300""".stripMargin,

    "q_taxi_q1" ->
      s"""WITH geo AS (
         |  SELECT ts, $Geo,
         |         41.474937 + ((CAST(json_extract_string(props, '$$.k') AS INT) % 100) / 100.0) - 0.5 AS d_lat,
         |         -74.913585 + (((user_id * 13 + CAST(json_extract_string(props, '$$.k') AS INT)) % 400) / 400.0) - 0.5 AS d_lon
         |  FROM events),
         |journeys AS (
         |  SELECT ts,
         |    ${cellSql("p_lat", "p_lon", "0.004491556", "0.005986", "s_clat", "s_clon")},
         |    ${cellSql("d_lat", "d_lon", "0.004491556", "0.005986", "e_clat", "e_clon")}
         |  FROM geo),
         |counts AS (
         |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS TIMESTAMP) AS window_start,
         |         s_clat, s_clon, e_clat, e_clon, count(*) AS n
         |  FROM journeys
         |  WHERE s_clat BETWEEN 1 AND 300 AND s_clon BETWEEN 1 AND 300
         |    AND e_clat BETWEEN 1 AND 300 AND e_clon BETWEEN 1 AND 300
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT window_start, s_clat, s_clon, e_clat, e_clon, n, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY window_start
         |              ORDER BY n DESC, s_clat, s_clon, e_clat, e_clon) AS INT) AS rank
         |  FROM counts)
         |WHERE rank <= 10""".stripMargin,

    // the batch Q1 oracle minus windows the final streaming watermark has
    // not closed. The horizon is max(IN-GRID JOURNEY ts) − 1 minute, not the
    // raw-stream max: Catalyst pushes the range filter below the
    // EventTimeWatermark node, so the stats the watermark advances on are
    // post-filter rows (see the query comment).
    "q_streaming_taxi_q1" ->
      s"""WITH geo AS (
         |  SELECT ts, $Geo,
         |         41.474937 + ((CAST(json_extract_string(props, '$$.k') AS INT) % 100) / 100.0) - 0.5 AS d_lat,
         |         -74.913585 + (((user_id * 13 + CAST(json_extract_string(props, '$$.k') AS INT)) % 400) / 400.0) - 0.5 AS d_lon
         |  FROM events),
         |journeys AS (
         |  SELECT ts,
         |    ${cellSql("p_lat", "p_lon", "0.004491556", "0.005986", "s_clat", "s_clon")},
         |    ${cellSql("d_lat", "d_lon", "0.004491556", "0.005986", "e_clat", "e_clon")}
         |  FROM geo),
         |inr AS (
         |  SELECT * FROM journeys
         |  WHERE s_clat BETWEEN 1 AND 300 AND s_clon BETWEEN 1 AND 300
         |    AND e_clat BETWEEN 1 AND 300 AND e_clon BETWEEN 1 AND 300),
         |m AS (SELECT max(ts) AS mx FROM inr),
         |counts AS (
         |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS TIMESTAMP) AS window_start,
         |         s_clat, s_clon, e_clat, e_clon, count(*) AS n
         |  FROM inr
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT window_start, s_clat, s_clon, e_clat, e_clon, n, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY window_start
         |              ORDER BY n DESC, s_clat, s_clon, e_clat, e_clon) AS INT) AS rank
         |  FROM counts), m
         |WHERE rank <= 10
         |  AND window_start + INTERVAL 30 MINUTE <= mx - INTERVAL 1 MINUTE""".stripMargin,

    // the Q2 pairing replayed relationally: per-cell 15-min profit medians
    // joined to the 30-min empty-taxi bucket containing them, minus coarse
    // windows the final watermark has not closed. The watermark horizon is
    // the MIN of the two sides' max post-filter ts (one EventTimeWatermark
    // node per side; Spark takes the min across nodes), − the 1-min delay.
    "q_streaming_taxi_q2" ->
      s"""WITH geo AS (
         |  SELECT ts, value, event_type, $Geo
         |  FROM events),
         |pr AS (
         |  SELECT ts, value, clat, clon FROM (
         |    SELECT ts, value,
         |      ${cellSql("p_lat", "p_lon", "(0.004491556/2)", "(0.005986/2)", "clat", "clon")}
         |    FROM geo)
         |  WHERE clat BETWEEN 1 AND 600 AND clon BETWEEN 1 AND 600),
         |er AS (
         |  SELECT ts, clat, clon FROM (
         |    SELECT ts,
         |      ${cellSql("p_lat", "p_lon", "(0.004491556/2)", "(0.005986/2)", "clat", "clon")}
         |    FROM geo WHERE event_type = 'error')
         |  WHERE clat BETWEEN 1 AND 600 AND clon BETWEEN 1 AND 600),
         |m AS (SELECT least((SELECT max(ts) FROM pr), (SELECT max(ts) FROM er)) AS wm),
         |profit AS (
         |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)) AS TIMESTAMP) AS sub_start, clat, clon,
         |         list_sort(list(value))[CAST(floor(count(*) / 2) AS INT) + 1] AS profit
         |  FROM pr GROUP BY 1, 2, 3),
         |empty AS (
         |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS TIMESTAMP) AS window_start, clat, clon,
         |         count(*) AS n_empty
         |  FROM er GROUP BY 1, 2, 3)
         |SELECT e.window_start, p.sub_start, e.clat, e.clon, e.n_empty,
         |       floor(p.profit * 100 + 0.5) / 100 AS profit,
         |       floor(p.profit / e.n_empty * 10000 + 0.5) / 10000 AS profitability
         |FROM empty e JOIN profit p
         |  ON CAST(to_timestamp(CAST(floor(epoch(p.sub_start) / 1800) * 1800 AS BIGINT)) AS TIMESTAMP) = e.window_start
         |  AND e.clat = p.clat AND e.clon = p.clon, m
         |WHERE e.window_start + INTERVAL 30 MINUTE <= wm - INTERVAL 1 MINUTE""".stripMargin,

    "q_taxi_empty" ->
      s"""WITH geo AS (
         |  SELECT ts, user_id, event_type, $Geo
         |  FROM events),
         |cells AS (
         |  SELECT ts, user_id, event_type,
         |    CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS TIMESTAMP) AS window_start,
         |    ${cellSql("p_lat", "p_lon", "(0.004491556/2)", "(0.005986/2)", "clat", "clon")}
         |  FROM geo),
         |inrange AS (
         |  SELECT * FROM cells
         |  WHERE clat BETWEEN 1 AND 600 AND clon BETWEEN 1 AND 600),
         |np AS (
         |  SELECT window_start, clat, clon, user_id, max(ts) AS newest_pickup
         |  FROM inrange WHERE event_type = 'click'
         |  GROUP BY 1, 2, 3, 4)
         |SELECT d.window_start, d.clat, d.clon, count(*) AS n_empty
         |FROM inrange d
         |LEFT JOIN np ON d.window_start = np.window_start
         |  AND d.clat = np.clat AND d.clon = np.clon AND d.user_id = np.user_id
         |WHERE d.event_type = 'purchase'
         |  AND (np.newest_pickup IS NULL OR np.newest_pickup < d.ts)
         |GROUP BY 1, 2, 3""".stripMargin,

    "q_taxi_q2" ->
      s"""WITH geo AS (
         |  SELECT ts, value, event_type, $Geo,
         |         41.474937 + ((CAST(json_extract_string(props, '$$.k') AS INT) % 100) / 100.0) - 0.5 AS d_lat,
         |         -74.913585 + (((user_id * 13 + CAST(json_extract_string(props, '$$.k') AS INT)) % 400) / 400.0) - 0.5 AS d_lon
         |  FROM events),
         |profit AS (
         |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)) AS TIMESTAMP) AS window_start, clat, clon,
         |         list_sort(list(value))[CAST(floor(count(*) / 2) AS INT) + 1] AS profit
         |  FROM (SELECT ts, value,
         |          ${cellSql("p_lat", "p_lon", "(0.004491556/2)", "(0.005986/2)", "clat", "clon")}
         |        FROM geo)
         |  WHERE clat BETWEEN 1 AND 600 AND clon BETWEEN 1 AND 600
         |  GROUP BY 1, 2, 3),
         |empty AS (
         |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS TIMESTAMP) AS window_start, clat, clon,
         |         count(*) AS n_empty
         |  FROM (SELECT ts, event_type,
         |          ${cellSql("d_lat", "d_lon", "(0.004491556/2)", "(0.005986/2)", "clat", "clon")}
         |        FROM geo WHERE event_type = 'error')
         |  WHERE clat BETWEEN 1 AND 600 AND clon BETWEEN 1 AND 600
         |  GROUP BY 1, 2, 3)
         |SELECT e.window_start, e.clat, e.clon, e.n_empty,
         |       floor(coalesce(p.profit, 0) * 100 + 0.5) / 100 AS profit,
         |       floor(coalesce(p.profit, 0) / e.n_empty * 10000 + 0.5) / 10000 AS profitability
         |FROM empty e LEFT JOIN profit p
         |  ON e.window_start = p.window_start AND e.clat = p.clat AND e.clon = p.clon""".stripMargin
  )
}
