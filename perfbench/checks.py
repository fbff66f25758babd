"""Output checks that run in DuckDB, independent of Spark.

* ``taxi``: DEBS Q1 and Q2 recomputed in SQL over the same trip CSV, minus
  the windows the final watermark has not closed, compared row for row with
  every drain's sink output.
* ``catalog``: each query's ``SparkEntry.oracleSql`` run over the same parquet
  tables, compared after sorting rows and rendering values as strings (the
  rule of the program's own oracle gate). Oracle results are cached per data
  directory, outside any timed region.

Each returns ``(attempted, failed, failures)``: operations checked, how many
of them failed, and messages naming the failing query or rows.
"""

import glob
import hashlib
import json
import os

import duckdb

from inputs import CELL_LAT, CELL_LON, ORIGIN_LAT, ORIGIN_LON

TRIP_COLUMNS = {
    "medallion": "VARCHAR", "hack_license": "VARCHAR", "pickup_datetime": "TIMESTAMP",
    "dropoff_datetime": "TIMESTAMP", "trip_time_in_secs": "INTEGER", "trip_distance": "FLOAT",
    "pickup_long": "FLOAT", "pickup_lat": "FLOAT", "dropoff_long": "FLOAT", "dropoff_lat": "FLOAT",
    "payment_type": "VARCHAR", "fare_amount": "FLOAT", "surcharge": "FLOAT", "mta_tax": "FLOAT",
    "tip_amount": "FLOAT", "tolls_amount": "FLOAT", "total_amount": "FLOAT"}


def _d(x):
    return f"CAST('{x!r}' AS DOUBLE)"


def _cell(expr, origin, side, sign, name):
    """Taxi.cellLat/cellLon: floor((origin - v) / side) + 1 (lat), floor((v - origin) / side) + 1 (lon)."""
    diff = f"({_d(origin)} - CAST({expr} AS DOUBLE))" if sign < 0 else f"(CAST({expr} AS DOUBLE) - {_d(origin)})"
    return f"CAST(floor({diff} / {_d(side)}) + 1 AS INT) AS {name}"


def _q1_sql(delay_us):
    lat, lon = (lambda e, n: _cell(e, ORIGIN_LAT, CELL_LAT, -1, n)), (lambda e, n: _cell(e, ORIGIN_LON, CELL_LON, 1, n))
    return f"""
    WITH j AS (
      SELECT epoch_us(dropoff_datetime) AS ts,
        {lat('pickup_lat', 's_clat')}, {lon('pickup_long', 's_clon')},
        {lat('dropoff_lat', 'e_clat')}, {lon('dropoff_long', 'e_clon')}
      FROM trips),
    inr AS (SELECT * FROM j WHERE s_clat BETWEEN 1 AND 300 AND s_clon BETWEEN 1 AND 300
                              AND e_clat BETWEEN 1 AND 300 AND e_clon BETWEEN 1 AND 300),
    m AS (SELECT max(ts) - {delay_us} AS wm FROM inr),
    counts AS (
      SELECT (ts // 1800000000) * 1800000000 AS window_start, s_clat, s_clon, e_clat, e_clon, count(*) AS n
      FROM inr GROUP BY ALL)
    SELECT window_start, s_clat, s_clon, e_clat, e_clon, n, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
                 ORDER BY n DESC, s_clat, s_clon, e_clat, e_clon) AS rank FROM counts), m
    WHERE rank <= 10 AND window_start + 1800000000 <= wm"""


def _q2_sql(delay_us):
    lat, lon = (lambda e, n: _cell(e, ORIGIN_LAT, CELL_LAT / 2, -1, n)), (lambda e, n: _cell(e, ORIGIN_LON, CELL_LON / 2, 1, n))
    return f"""
    WITH pr AS (
      SELECT * FROM (SELECT epoch_us(dropoff_datetime) AS ts, fare_amount + tip_amount AS profit,
                            {lat('pickup_lat', 'clat')}, {lon('pickup_long', 'clon')} FROM trips)
      WHERE clat BETWEEN 1 AND 600 AND clon BETWEEN 1 AND 600),
    er AS (
      SELECT * FROM (SELECT epoch_us(dropoff_datetime) AS ts,
                            {lat('dropoff_lat', 'clat')}, {lon('dropoff_long', 'clon')} FROM trips)
      WHERE clat BETWEEN 1 AND 600 AND clon BETWEEN 1 AND 600),
    m AS (SELECT least((SELECT max(ts) FROM pr), (SELECT max(ts) FROM er)) - {delay_us} AS wm),
    profit AS (
      SELECT (ts // 900000000) * 900000000 AS sub_start, clat, clon,
             list_sort(list(profit))[CAST(floor(count(*) / 2) AS INT) + 1] AS profit
      FROM pr GROUP BY ALL),
    empty AS (
      SELECT (ts // 1800000000) * 1800000000 AS window_start, clat, clon, count(*) AS n_empty
      FROM er GROUP BY ALL)
    SELECT e.window_start, p.sub_start, e.clat, e.clon, e.n_empty,
           floor(CAST(p.profit AS DOUBLE) * 100 + 0.5) / 100 AS profit,
           floor(CAST(p.profit AS DOUBLE) / e.n_empty * 10000 + 0.5) / 10000 AS profitability
    FROM empty e JOIN profit p
      ON (p.sub_start // 1800000000) * 1800000000 = e.window_start AND e.clat = p.clat AND e.clon = p.clon, m
    WHERE e.window_start + 1800000000 <= wm"""


Q1_COLS = ("window_start", "s_clat", "s_clon", "e_clat", "e_clon", "n", "rank")
Q2_COLS = ("window_start", "sub_start", "clat", "clon", "n_empty", "profit", "profitability")


def taxi(input_dir, out_dir, delay_s):
    con = duckdb.connect()
    cols = ", ".join(f"'{k}': '{v}'" for k, v in TRIP_COLUMNS.items())
    con.sql(f"""CREATE TABLE trips AS SELECT * FROM read_csv('{input_dir}/*.csv', header = false,
                columns = {{{cols}}}, timestampformat = '%Y-%m-%d %H:%M:%S')""")
    delay_us = delay_s * 1_000_000
    expected = {"q1": sorted(tuple(float(v) for v in r) for r in con.sql(_q1_sql(delay_us)).fetchall()),
                "q2": sorted(tuple(float(v) for v in r) for r in con.sql(_q2_sql(delay_us)).fetchall())}
    attempted, failed, failures = 0, 0, []
    for f in sorted(glob.glob(os.path.join(out_dir, "drain-*.jsonl"))):
        drain = os.path.basename(f)[:-len(".jsonl")]
        got = {"q1": [], "q2": []}
        with open(f) as fh:
            for line in fh:
                r = json.loads(line)
                cols = Q1_COLS if r["q"] == "q1" else Q2_COLS
                got[r["q"]].append(tuple(float(r[c]) for c in cols))
        for q in ("q1", "q2"):
            exp, have = expected[q], sorted(got[q])
            attempted += len(exp)
            if exp == have:
                continue
            es, hs = set(exp), set(have)
            miss, extra = sorted(es - hs), sorted(hs - es)
            dup = len(have) - len(hs)
            cols = Q1_COLS if q == "q1" else Q2_COLS
            for r in miss[:5]:
                failures.append(f"taxi {drain} {q}: missing row {dict(zip(cols, r))}")
            for r in extra[:5]:
                failures.append(f"taxi {drain} {q}: unexpected row {dict(zip(cols, r))}")
            n_bad = len(miss) + len(extra) + dup
            failed += n_bad
            if n_bad > 10 or dup:
                failures.append(f"taxi {drain} {q}: {len(miss)} missing, {len(extra)} unexpected, "
                                f"{dup} duplicate rows in all")
    if not expected["q1"] or not expected["q2"]:
        failed += 1
        failures.append("taxi: the oracle produced no rows (inputs too small to close a window)")
    return attempted, failed, failures


CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")


def _canonical(df):
    """Sorted columns, sorted rows, values as strings: a digest of a result."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for c in df.columns:
        h.update(("\x00".join(df[c].astype(str))).encode())
    return f"{len(df)}:{h.hexdigest()}"


def catalog(data_dir, results_dir, oracles, cache_dir):
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    os.makedirs(cache_dir, exist_ok=True)
    key = hashlib.sha256(os.path.abspath(data_dir).encode()).hexdigest()[:16]
    cache_file = os.path.join(cache_dir, f"{key}.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    failures = []
    for name, sql in sorted(oracles.items()):
        ck = hashlib.sha256(sql.encode()).hexdigest()
        if ck not in cache:
            try:
                cache[ck] = _canonical(con.sql(sql).df())
            except Exception as e:  # an oracle that cannot run is a failed check
                failures.append(f"{name}: oracle SQL error: {str(e).splitlines()[0][:200]}")
                continue
        try:
            got = _canonical(con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'").df())
        except Exception as e:
            failures.append(f"{name}: no readable result: {str(e).splitlines()[0][:200]}")
            continue
        if got != cache[ck]:
            failures.append(f"{name}: result differs from oracle (rows:digest {got} vs {cache[ck]})")
    with open(cache_file + ".tmp", "w") as fh:
        json.dump(cache, fh)
    os.replace(cache_file + ".tmp", cache_file)
    return len(oracles), len(failures), failures
