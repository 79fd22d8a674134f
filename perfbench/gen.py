"""Seeded input generators for the benchmark.

Two families, both written as parquet with fixed writer settings so the
same arguments give byte-identical files:

* ``write_month`` — one raw NYC-TLC-shaped taxi month, with the column
  names and raw types of FIXTURES.md §1, and stated (assumed) shares of
  the rows each quality rule of the Job-1 pipeline acts on
  (``MONTH_SHARES``).
* ``write_registry`` — the TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the registry queries read, with
  the schemas of FIXTURES.md §4 at roughly scale factor 0.01.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shares of a generated raw month (each is a fraction of the month's rows).
# They are assumptions, not measurements: no real TLC month is in the
# repository to measure them from. They are chosen so that every quality
# rule, default and null path of Job-1 acts on a visible share of rows.
# The fact rows, and so the volume Job-2 publishes, follow from them
# (about 66% of the raw rows).
MONTH_SHARES = {
    # rows that are exact copies of an earlier row (removed by the dedup)
    "exact_duplicates": 0.05,
    # passenger_count outside [1, 6]: null, 0, or 7..9
    "drop_passenger_null": 0.02,
    "drop_passenger_zero": 0.02,
    "drop_passenger_over_6": 0.02,
    # trip_distance outside [5.0, 500.0] (4.9 and 500.1 sit on the edges)
    "drop_distance_under_5": 0.20,
    "drop_distance_over_500": 0.01,
    # fare_amount <= 0 (-1.0 and 0.0)
    "drop_fare_nonpositive": 0.03,
    # dropoff at least 1440 minutes after pickup (dropped by the duration cut)
    "duration_ge_1440_min": 0.01,
    # nulls the cast map must default or carry
    "null_store_and_fwd_flag": 0.05,
    "null_ratecode": 0.03,
    "null_congestion_surcharge": 0.10,
    "null_airport_fee": 0.30,
}
# Pickup hours are uniform over 0..23, so each peak band gets its share:
# night (0-5, 20-23) 10/24, peak (6-9, 16-19) 8/24, off-peak (10-15) 6/24.
PICKUP_BAND_SHARES = {"101": 10 / 24, "102": 8 / 24, "103": 6 / 24}

_PARQUET_KW = dict(compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def _write(table, path):
    pq.write_table(table, path, **_PARQUET_KW)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n, share):
    """Boolean mask selecting exactly round(share * n) random rows."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, int(round(share * n)), replace=False)] = True
    return mask


def month_table(seed, year, month, rows):
    """One raw taxi month as an Arrow table (see MONTH_SHARES)."""
    rng = np.random.default_rng([seed, year, month])
    n_dup = int(round(MONTH_SHARES["exact_duplicates"] * rows))
    n = rows - n_dup
    start = dt.datetime(year, month, 1)
    end = dt.datetime(year + month // 12, month % 12 + 1, 1)
    span_s = int((end - start).total_seconds())
    pickup_s = rng.integers(0, span_s, n)
    minutes = rng.integers(2, 90, n)
    long_trip = _pick(rng, n, MONTH_SHARES["duration_ge_1440_min"])
    minutes[long_trip] = rng.integers(1440, 1600, long_trip.sum())
    dropoff_s = pickup_s + minutes * 60 + rng.integers(0, 60, n)
    epoch_us = int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

    passenger = rng.integers(1, 7, n).astype(np.float64)
    # the passenger, distance and fare drops are disjoint row sets, so each
    # share is exactly the share of rows that rule alone removes
    order = rng.permutation(n)
    cuts = np.cumsum([int(round(MONTH_SHARES[k] * n)) for k in (
        "drop_passenger_null", "drop_passenger_zero", "drop_passenger_over_6",
        "drop_distance_under_5", "drop_distance_over_500",
        "drop_fare_nonpositive")])
    p_null, p_zero, p_over, d_under, d_over, f_bad = np.split(order, cuts)[:6]
    passenger_null = np.zeros(n, dtype=bool)
    passenger_null[p_null] = True
    passenger[p_zero] = 0.0
    passenger[p_over] = rng.integers(7, 10, len(p_over))
    distance = np.round(rng.uniform(5.0, 60.0, n), 2)
    distance[d_under] = np.round(rng.uniform(0.3, 4.9, len(d_under)), 2)
    distance[d_under[:1]] = 4.9
    distance[d_over] = np.round(rng.uniform(500.1, 900.0, len(d_over)), 2)
    distance[d_over[:1]] = 500.1
    distance[order[-2:]] = [5.0, 500.0]
    fare = _money(rng, 3.0, 150.0, n)
    fare[f_bad] = rng.choice([-1.0, 0.0], len(f_bad))

    ratecode = rng.integers(1, 7, n).astype(np.float64)
    ratecode_null = _pick(rng, n, MONTH_SHARES["null_ratecode"])
    flag = np.where(rng.random(n) < 0.5, "Y", "N").astype(object)
    flag[_pick(rng, n, MONTH_SHARES["null_store_and_fwd_flag"])] = None
    congestion = np.where(rng.random(n) < 0.5, 2.5, 0.0)
    congestion_null = _pick(rng, n, MONTH_SHARES["null_congestion_surcharge"])
    airport = np.full(n, 1.75)
    airport_null = _pick(rng, n, MONTH_SHARES["null_airport_fee"])
    mta = np.full(n, 0.5)
    tolls = np.where(rng.random(n) < 0.1, 6.55, 0.0)
    improvement = np.full(n, 1.0)

    cols = {
        "VendorID": pa.array(rng.choice([1, 2, 6, 7], n), pa.int64()),
        "tpep_pickup_datetime": pa.array(epoch_us + pickup_s * 1_000_000, pa.timestamp("us")),
        "tpep_dropoff_datetime": pa.array(epoch_us + dropoff_s * 1_000_000, pa.timestamp("us")),
        "passenger_count": pa.array(passenger, pa.float64(), mask=passenger_null),
        "trip_distance": pa.array(distance, pa.float64()),
        "RatecodeID": pa.array(ratecode, pa.float64(), mask=ratecode_null),
        "store_and_fwd_flag": pa.array(flag, pa.string()),
        "PULocationID": pa.array(rng.integers(1, 266, n), pa.int64()),
        "DOLocationID": pa.array(rng.integers(1, 266, n), pa.int64()),
        "payment_type": pa.array(rng.integers(0, 7, n), pa.int64()),
        "fare_amount": pa.array(fare, pa.float64()),
        "extra": pa.array(rng.choice([0.0, 0.5, 1.0, 2.5], n), pa.float64()),
        "mta_tax": pa.array(mta, pa.float64()),
        "tip_amount": pa.array(_money(rng, 0.0, 20.0, n), pa.float64()),
        "tolls_amount": pa.array(tolls, pa.float64()),
        "improvement_surcharge": pa.array(improvement, pa.float64()),
        # 2-decimal terms only, so the DECIMAL(10,2) cast never meets a tie
        "total_amount": pa.array(np.round(fare + mta + tolls + improvement, 2), pa.float64()),
        "congestion_surcharge": pa.array(congestion, pa.float64(), mask=congestion_null),
        "airport_fee": pa.array(airport, pa.float64(), mask=airport_null),
    }
    table = pa.table(cols)
    dup_idx = rng.choice(n, n_dup, replace=False)
    table = pa.concat_tables([table, table.take(pa.array(dup_idx))])
    return table.take(pa.array(rng.permutation(rows)))


def write_month(path, seed, year, month, rows):
    _write(month_table(seed, year, month, rows), path)


# --------------------------------------------------------------------------
# Registry tables (FIXTURES.md §4 schemas, ~sf0.01 row counts)
# --------------------------------------------------------------------------

REGISTRY_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
                 "orders": 15000, "lineitem": 60000, "events": 10000,
                 "documents": 500, "embeddings": 500}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = ("row the query stream fast spark line small customer group value hash "
          "batch sort data big filter dup key agg scan slow table part a merge "
          "window order column join vector").split()


def _days(rng, first, last, n):
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return pa.array((lo + rng.integers(0, span, n)).astype("datetime64[us]"), pa.timestamp("us"))


def registry_tables(seed=42):
    rng = np.random.default_rng(seed)
    r = REGISTRY_ROWS
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = r["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n)})
    n = r["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = r["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n), rng.choice(_NOUN, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})
    n = r["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(_PRIORITIES, n)})
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    n = r["events"]
    gaps = rng.integers(1_000_000, 500_000_000, n)
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(base + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(0.01 + rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = r["documents"]
    texts = [" ".join(rng.choice(_WORDS, k)) for k in rng.integers(10, 100, n)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.13, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = r["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_registry(directory, seed=42):
    for name, table in registry_tables(seed).items():
        _write(table, f"{directory}/{name}.parquet")
