"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files, a different seed different ones (checked by
``test_inputs.py``). Only the Python standard library is used, so the bytes
do not depend on an optional package's version.

* ``wearable_samples``: one wearable's accelerometer trace, one
  ``x,y,z,vibe`` line per sample. The norm swings across the step threshold
  (100) once per stride; stride length, amplitude and noise vary per stride,
  and short runs of vibration-motor samples (``vibe=1``) are mixed in.
* ``taxi_chunks``: DEBS-2015 trip CSV (17 fields) split into time-contiguous
  chunk files. Routes are drawn from a Zipf law over pairs of hot NYC grid
  cells; a fixed share of trips arrives out of order, by less than the
  watermark delay.
* ``catalog_tables``: the TPC-H-ish tables and the ``events`` table of the
  program's batch query catalogue, with the columns, types and value ranges
  of its certified test data (written as parquet by ``write_catalog``).
"""

import bisect
import math
import random
import time

# Step threshold of the reference wearable pipeline (WearableExample.hs:81).
THRESHOLD = 100

# Taxi grid constants of the reference (Taxi.hs:83-118).
CELL_LAT = 0.004491556
CELL_LON = 0.005986
ORIGIN_LAT = 41.474937 + CELL_LAT / 2
ORIGIN_LON = -74.913585 - CELL_LON / 2

TAXI_EPOCH = 1357000000  # 2012-12-31 00:26:40 UTC; trips start after this
TAXI_WATERMARK_S = 120   # watermark delay the benchmark's queries declare
TAXI_LATE_SHARE = 0.05   # share of trips that arrive out of order
TAXI_LATE_MAX_S = 90     # how far out of order, in event time (< watermark)
# Trip density: the DEBS-2015 trip stream's arrival rate into Q1 in the
# reference's Jackson model, 1.2 trips/s (Jackson.hs:202, taxi/generate.hs:34).
TAXI_TRIPS_PER_HOUR = 4320


def wearable_samples(seed, n):
    """``n`` accelerometer samples as a list of ``(x, y, z, vibe)``."""
    rnd = random.Random(f"wearable:{seed}")
    out = []
    vibe_left = 0
    while len(out) < n:
        stride = rnd.randint(6, 18)
        amp = rnd.uniform(15.0, 60.0)
        base = THRESHOLD + rnd.uniform(-8.0, 8.0)
        # a random, slowly varying direction of the gravity+motion vector
        theta = rnd.uniform(0.0, math.pi)
        phi = rnd.uniform(0.0, 2 * math.pi)
        ux, uy, uz = (math.sin(theta) * math.cos(phi),
                      math.sin(theta) * math.sin(phi), math.cos(theta))
        for k in range(stride):
            if vibe_left == 0 and rnd.random() < 0.004:
                vibe_left = rnd.randint(5, 40)
            vibe = 1 if vibe_left > 0 else 0
            vibe_left = max(0, vibe_left - 1)
            norm = base + amp * math.sin(2 * math.pi * k / stride) + rnd.gauss(0.0, 4.0)
            norm = max(norm, 0.0)
            out.append((int(round(norm * ux)), int(round(norm * uy)),
                        int(round(norm * uz)), vibe))
    return out[:n]


def wearable_bytes(seed, n):
    return "".join(f"{x},{y},{z},{v}\n" for x, y, z, v in wearable_samples(seed, n)).encode()


class _Zipf:
    """Inverse-CDF sampler over ranks 0..n-1 with P(k) ~ 1/(k+1)^s."""

    def __init__(self, n, s):
        acc, self.cdf = 0.0, []
        for k in range(n):
            acc += 1.0 / (k + 1) ** s
            self.cdf.append(acc)
        self.total = acc

    def draw(self, rnd):
        return min(bisect.bisect_left(self.cdf, rnd.random() * self.total), len(self.cdf) - 1)


def _off(rnd):
    """An offset from a Q1 cell centre, in sides: 0.1 to 0.4 either way. The
    centre is also a Q2 half-cell boundary, so the point stays at least a
    tenth of a side from every Q1 and Q2 boundary and float rounding can
    never move it into a neighbouring cell."""
    return rnd.choice((-1, 1)) * rnd.uniform(0.1, 0.4)


def _cell_point(rnd, clat, clon):
    """A point inside Q1 cell (clat, clon), clear of all cell boundaries."""
    lat = ORIGIN_LAT - (clat - 0.5 + _off(rnd)) * CELL_LAT
    lon = ORIGIN_LON + (clon - 0.5 + _off(rnd)) * CELL_LON
    return lat, lon


def _ts(sec):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))


def taxi_trips(seed, n_trips):
    """``n_trips`` trip CSV lines in arrival order: event-time order, except
    that ``TAXI_LATE_SHARE`` of them arrive up to ``TAXI_LATE_MAX_S`` late."""
    rnd = random.Random(f"taxi:{seed}")
    # hot cells: a Manhattan-sized block of the Q1 grid
    hot = [(rnd.randint(150, 175), rnd.randint(150, 170)) for _ in range(400)]
    routes = [(hot[rnd.randrange(len(hot))], hot[rnd.randrange(len(hot))]) for _ in range(20000)]
    zipf = _Zipf(len(routes), 1.05)
    medallions = ["%032X" % rnd.getrandbits(128) for _ in range(3000)]
    mean_gap = 3600.0 / TAXI_TRIPS_PER_HOUR
    t = float(TAXI_EPOCH + 3600)
    trips = []
    for i in range(n_trips):
        t += rnd.expovariate(1.0 / mean_gap)
        drop = int(t)
        (plat_c, plon_c), (dlat_c, dlon_c) = routes[zipf.draw(rnd)]
        dur = rnd.randint(120, 2400)
        plat, plon = _cell_point(rnd, plat_c, plon_c)
        dlat, dlon = _cell_point(rnd, dlat_c, dlon_c)
        if rnd.random() < 0.01:          # GPS dropouts: off-grid zeros
            plat, plon = 0.0, 0.0
        med = medallions[rnd.randrange(len(medallions))]
        # money in quarter dollars: exact in float32 and float64 alike
        fare = 2.5 + 0.25 * rnd.randint(0, 200)
        tip = 0.25 * rnd.randint(0, 40) if rnd.random() < 0.6 else 0.0
        pay = "CRD" if tip > 0 else "CSH"
        tolls = 5.25 if rnd.random() < 0.03 else 0.0
        total = fare + 0.5 + 0.5 + tip + tolls
        line = (f"{med},{med[::-1]},{_ts(drop - dur)},{_ts(drop)},{dur},"
                f"{0.25 * rnd.randint(1, 60):.2f},{plon:.6f},{plat:.6f},{dlon:.6f},{dlat:.6f},"
                f"{pay},{fare:.2f},0.50,0.50,{tip:.2f},{tolls:.2f},{total:.2f}\n")
        late = TAXI_LATE_SHARE > 0 and rnd.random() < TAXI_LATE_SHARE
        arrive = drop + (rnd.uniform(1.0, TAXI_LATE_MAX_S) if late else 0.0)
        trips.append((arrive, i, drop, line))
    trips.sort(key=lambda r: (r[0], r[1]))
    return [line for _, _, _, line in trips]


def taxi_chunks(seed, n_trips, n_chunks):
    """The trips split into ``n_chunks`` contiguous chunk files (bytes)."""
    trips = taxi_trips(seed, n_trips)
    per = -(-len(trips) // n_chunks)
    return ["".join(trips[c * per:(c + 1) * per]).encode()
            for c in range(n_chunks)]


# --- the batch catalogue's tables -----------------------------------------

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_WORDS = (("small", "red", "blue", "hot", "cold", "old", "large"),
              ("widget", "bolt", "gear", "gizmo", "ring", "plate"))
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _cents(rnd, lo, hi):
    """A uniform amount in [lo, hi], whole cents."""
    return rnd.randint(round(lo * 100), round(hi * 100)) / 100


def catalog_tables(seed, orders=3000, events=3000):
    """The catalogue's tables as ``{name: (columns, types, rows)}``; types
    are ``int32``, ``int64``, ``float64``, ``string`` or ``timestamp_us``.
    Sizes follow the test data's ratios (4 line items, 1/10 customer and
    1/150 supplier per order); ``events`` are in time order with distinct
    microsecond stamps, so ``(user_id, ts)`` is unique as the oracles
    assume."""
    rnd = random.Random(f"catalog:{seed}")
    n_cust, n_supp, n_part = orders // 10, max(orders // 150, 5), orders // 7
    t = {}
    t["region"] = (("r_regionkey", "r_name"), ("int32", "string"),
                   [(i, n) for i, n in enumerate(REGIONS)])
    t["nation"] = (("n_nationkey", "n_name", "n_regionkey"), ("int32", "string", "int32"),
                   [(i, f"NATION_{i}", i % 5) for i in range(25)])
    t["customer"] = (("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
                     ("int64", "string", "int32", "float64", "string"),
                     [(i, f"Customer#{i:09d}", rnd.randrange(25), _cents(rnd, -999.99, 9999.99),
                       rnd.choice(SEGMENTS)) for i in range(n_cust)])
    t["supplier"] = (("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
                     ("int64", "string", "int32", "float64"),
                     [(i, f"Supplier#{i:09d}", rnd.randrange(25), _cents(rnd, -999.99, 9999.99))
                      for i in range(n_supp)])
    t["part"] = (("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
                 ("int64", "string", "string", "string", "int32", "float64"),
                 [(i, f"{rnd.choice(PART_WORDS[0])} {rnd.choice(PART_WORDS[1])}",
                   f"Brand#{rnd.randint(1, 25)}", rnd.choice(PART_TYPES), rnd.randint(1, 50),
                   900 + (i % 1000) / 10) for i in range(n_part)])
    order_rows, line_rows = [], []
    for k in range(orders):
        date = EPOCH_1995_US + rnd.randrange(2404) * DAY_US
        order_rows.append((k, rnd.randrange(n_cust), rnd.choice("FOP"), _cents(rnd, 1000, 500000),
                           date, rnd.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
        for ln in range(1, rnd.randint(1, 7) + 1):
            qty = float(rnd.randint(1, 50))
            line_rows.append((k, rnd.randrange(n_part), rnd.randrange(n_supp), ln, qty,
                              _cents(rnd, 900, 105000), rnd.randint(0, 10) / 100, rnd.randint(0, 8) / 100,
                              rnd.choice("ANR"), rnd.choice("OF"), date + rnd.randint(1, 121) * DAY_US))
    t["orders"] = (("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
                   ("int64", "int64", "string", "float64", "timestamp_us", "string"), order_rows)
    t["lineitem"] = (("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
                      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
                     ("int64", "int64", "int64", "int32", "float64", "float64", "float64", "float64",
                      "string", "string", "timestamp_us"), line_rows)
    # 30 days of events; gaps of at least 1 µs keep every stamp distinct
    span = 30 * DAY_US
    ts, ev_rows = EPOCH_2024_US, []
    for i in range(events):
        ts += 1 + rnd.randrange(2 * span // events)
        ev_rows.append((i, ts, rnd.randrange(150), rnd.choice(EVENT_TYPES), _cents(rnd, 0.01, 490.02),
                        f'{{"k": {rnd.randrange(100)}}}'))
    t["events"] = (("event_id", "ts", "user_id", "event_type", "value", "props"),
                   ("int64", "timestamp_us", "int64", "string", "float64", "string"), ev_rows)
    return t


def write_catalog(seed, out_dir, **sizes):
    """Write ``catalog_tables(seed)`` as ``<name>.parquet`` files, the
    layout the program's table loaders read. Timestamps are stored as
    microseconds without a time zone, as in the certified test data."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    kinds = {"int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64(), "string": pa.string(),
             "timestamp_us": pa.timestamp("us")}
    for name, (cols, types, rows) in catalog_tables(seed, **sizes).items():
        arrays = [pa.array([r[i] for r in rows], type=kinds[ty]) for i, ty in enumerate(types)]
        pq.write_table(pa.Table.from_arrays(arrays, names=list(cols)), f"{out_dir}/{name}.parquet",
                       compression="snappy")
