"""Seeded input generators for the benchmark workloads.

Everything here is plain NumPy/pandas/pyarrow: the program under test only
ever sees the files written here, never the generator. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

AIRLINES = [
    ("AS", "Alaska Airlines"), ("G4", "Allegiant Air"), ("AA", "American Airlines"),
    ("DL", "Delta Air Lines"), ("MQ", "Envoy Air"), ("F9", "Frontier Airlines"),
    ("HA", "Hawaiian Airlines"), ("B6", "JetBlue Airways"), ("OH", "PSA Airlines"),
    ("YX", "Republic Airways"), ("OO", "SkyWest Airlines"), ("WN", "Southwest Airlines"),
    ("NK", "Spirit Airlines"), ("UA", "United Airlines"),
]
# The 12 hub cities are exactly the program's coordinate table; the others
# must be dropped by the airport cache.
HUBS = [
    ("ATL", "Atlanta, GA", "GA"), ("ORD", "Chicago, IL", "IL"),
    ("DFW", "Dallas/Fort Worth, TX", "TX"), ("DEN", "Denver, CO", "CO"),
    ("SFO", "San Francisco, CA", "CA"), ("JFK", "New York, NY", "NY"),
    ("LAX", "Los Angeles, CA", "CA"), ("SEA", "Seattle, WA", "WA"),
    ("IAH", "Houston, TX", "TX"), ("PHX", "Phoenix, AZ", "AZ"),
    ("LAS", "Las Vegas, NV", "NV"), ("CLT", "Charlotte, NC", "NC"),
]
NON_HUBS = [
    ("BOI", "Boise, ID", "ID"), ("MSY", "New Orleans, LA", "LA"),
    ("RDU", "Raleigh/Durham, NC", "NC"), ("PDX", "Portland, OR", "OR"),
    ("SLC", "Salt Lake City, UT", "UT"), ("TPA", "Tampa, FL", "FL"),
]
AIRPORTS = HUBS + NON_HUBS
MONTH_DAYS = {1: 31, 2: 28, 3: 31}
CAUSES = ["CarrierDelay", "WeatherDelay", "NASDelay", "SecurityDelay", "LateAircraftDelay"]


def _skewed(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def flights_raw(out_dir: str, n_rows: int, seed: int) -> dict:
    """Write ``2025_01.csv``..``2025_03.csv`` (BTS keep-list columns) and
    return the generator's own counts for the cache checks.

    Covers the cleaning edge cases: CRSDepTime 0 and 2400 and 1-3 digit
    values, ~2% cancelled rows with null actuals, ~70% null delay causes,
    non-hub cities and Zipf-skewed airlines."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    codes = np.array([c for c, _ in AIRLINES])
    names = dict(AIRLINES)
    ap_code = np.array([a[0] for a in AIRPORTS])
    ap_city = np.array([a[1] for a in AIRPORTS])
    ap_state = np.array([a[2] for a in AIRPORTS])
    ap_w = np.r_[np.full(len(HUBS), 3.0), np.ones(len(NON_HUBS))]
    ap_w /= ap_w.sum()
    truth = {"rows": n_rows, "cancelled": 0, "hub_rows": 0, "per_group": {}}
    per_month = [n_rows // 3 + (1 if i < n_rows % 3 else 0) for i in range(3)]
    for month, n in zip((1, 2, 3), per_month):
        day = rng.integers(1, MONTH_DAYS[month] + 1, n)
        first = datetime.date(2025, month, 1)
        dow = (first.isoweekday() - 1 + day - 1) % 7 + 1
        airline = codes[rng.choice(len(codes), n, p=_skewed(len(codes), 0.8))]
        o = rng.choice(len(AIRPORTS), n, p=ap_w)
        d = (o + rng.integers(1, len(AIRPORTS), n)) % len(AIRPORTS)
        cancelled = rng.random(n) < 0.02
        edge = rng.random(n)
        crs = np.where(
            edge < 0.02, 2400,
            np.where(edge < 0.06, rng.integers(0, 60, n),
                     rng.integers(0, 24, n) * 100 + rng.integers(0, 60, n)),
        )
        dep_delay = np.round(rng.normal(3.0, 25.0, n), 1)
        ddm = np.maximum(dep_delay, 0.0)
        dd15 = (ddm >= 15).astype(float)
        delayed = (dd15 == 1.0) & ~cancelled
        split = rng.dirichlet(np.ones(5), n) * ddm[:, None]
        hh = np.minimum(crs // 100, 23)
        frame = {
            "Year": 2025, "Quarter": 1, "Month": month, "DayofMonth": day, "DayOfWeek": dow,
            "FlightDate": [f"2025-{month:02d}-{x:02d}" for x in day],
            "Reporting_Airline": airline,
            "Tail_Number": np.where(
                rng.random(n) < 0.02, None,
                np.char.add("N", rng.integers(10000, 99999, n).astype(str)).astype(object)),
            "Flight_Number_Reporting_Airline": rng.integers(1, 9999, n),
            "Origin": ap_code[o], "OriginCityName": ap_city[o], "OriginState": ap_state[o],
            "Dest": ap_code[d], "DestCityName": ap_city[d], "DestState": ap_state[d],
            "CRSDepTime": crs,
            "DepTime": np.where(cancelled, np.nan, np.minimum(crs + ddm.astype(int) % 60, 2400)),
            "DepDelay": np.where(cancelled, np.nan, dep_delay),
            "DepDelayMinutes": np.where(cancelled, np.nan, ddm),
            "DepDel15": np.where(cancelled, np.nan, dd15),
            "DepTimeBlk": [f"{h:02d}00-{h:02d}59" for h in hh],
            "ActualElapsedTime": np.where(cancelled, np.nan, rng.integers(40, 400, n)),
            "AirTime": np.where(cancelled, np.nan, rng.integers(20, 380, n)),
            "Distance": rng.integers(100, 4500, n).astype(float),
        }
        for i, c in enumerate(CAUSES):
            frame[c] = np.where(delayed, np.round(split[:, i], 1), np.nan)
        frame["Cancelled"] = cancelled.astype(float)
        pd.DataFrame(frame).to_csv(os.path.join(out_dir, f"2025_{month:02d}.csv"), index=False)
        truth["cancelled"] += int(cancelled.sum())
        truth["hub_rows"] += int((o < len(HUBS)).sum())
        uniq, cnt = np.unique(airline, return_counts=True)
        for code, c in zip(uniq, cnt):
            truth["per_group"][(names[str(code)], month)] = int(c)
    return truth


# ---------------------------------------------------------------------------
# TPC-H-like tables (the registry's table schema), with the marginals of the
# reference test data: uniform keys, orders = customers x 10, lineitem =
# orders x 4, a 30-word document vocabulary.

SEGMENTS = ["MACHINERY", "FURNITURE", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"]
LANGS = ["zh", "fr", "es", "de"]
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
ORDER_DAYS = 2404


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tpch(out_dir: str, seed: int) -> dict[str, int]:
    """Write the tables the registry mix reads, at the reference's sf0.01
    row counts; return row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_docs = 1500, 100, 2000, 500
    n_orders, n_line = n_cust * 10, n_cust * 40

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def cents(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(lo + rng.integers(0, int(round((hi - lo) * 100)) + 1, n) / 100.0, 2)

    def pick(vocab: list[str], n: int) -> list[str]:
        return list(np.array(vocab)[rng.integers(0, len(vocab), n)])

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, n_cust), "c_mktsegment": pick(SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(pick(ADJ, n_part), pick(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + pk / 10.0, 2)})

    ok = np.arange(n_orders, dtype=np.int64)
    odays = rng.integers(0, ORDER_DAYS, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": pick(["O", "P", "F"], n_orders),
        "o_totalprice": cents(1001.0, 499999.99, n_orders),
        "o_orderdate": pa.array(EPOCH_1995_US + odays * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pick(PRIORITIES, n_orders)})

    lok = rng.integers(0, n_orders, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    unit = 900.0 + rng.integers(0, 120001, n_line) / 100.0
    _write(out_dir, "lineitem", {
        "l_orderkey": lok, "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty, "l_extendedprice": np.round(qty * unit, 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["N", "A", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": pa.array(
            EPOCH_1995_US + (odays[lok] + rng.integers(1, 96, n_line)) * DAY_US,
            pa.timestamp("us"))})

    words = np.array(VOCAB)
    docs = [words[rng.integers(0, len(VOCAB), int(k))] for k in rng.integers(10, 61, n_docs)]
    # Plant near-duplicate pairs so the dedup entries find candidate pairs
    # and clusters: 15% of the documents each copy a distinct original with
    # one word replaced. Every seed gets the same number of pairs, so the
    # iterative clustering does the same number of rounds.
    n_pairs = int(0.15 * n_docs)
    slots = rng.permutation(n_docs)
    for src, dst in zip(slots[:n_pairs], slots[n_pairs:2 * n_pairs]):
        doc = docs[src].copy()
        doc[int(rng.integers(0, len(doc)))] = words[int(rng.integers(0, len(VOCAB)))]
        docs[dst] = doc
    texts = [" ".join(d) for d in docs]
    langs = np.where(rng.random(n_docs) < 0.4, "en", np.array(LANGS)[rng.integers(0, 4, n_docs)])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts, "lang": list(langs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_orders,
            "lineitem": n_line, "documents": n_docs}
