"""The benchmark's workloads: each generates its inputs from the seed, loads
them in set-up, runs one closed-loop op at a time and checks every output.

An op is timed from outside, around calls into the program's public
functions only; output checks, hashing and clean-up run outside the timed
region. Span names are ``<layer>.<call>`` so the trace maps onto the
program's modules (``flights.pipeline``, ``flights.star``, ``flights.agg``,
``flights.serve``, ``registry``/``operators``).
"""

from __future__ import annotations

import csv
import glob
import hashlib
import math
import os
import statistics

import numpy as np

import gen

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures")


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    """A workload, or a part of one. A workload's ``ops()`` yields (label,
    callable) pairs; each callable runs one op and returns a function that
    checks the op's output and returns the failures. ``done(elapsed,
    seconds, n_ops)`` ends the timed loop.

    Warm-up runs ``warmup_blocks`` blocks of ``warmup_block`` ops; the run
    records whether the last block was still getting faster (see
    ``run.py``)."""

    warmup_block = 1
    warmup_blocks = 1

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tr = work, seed, tracer
        self.rng = np.random.default_rng(seed)

    def generate(self) -> None:
        pass

    def load(self, spark) -> None:
        self.spark = spark

    def cleanup(self) -> None:
        pass

    def begin_timed(self) -> None:
        pass

    def final_checks(self) -> list[list[str]]:
        """Checks made once per run, after the timed region: the failures of
        each, and each counts as one attempted op."""
        return []

    def named(self, op_ms: dict[str, list[float]]) -> dict:
        return {}

    def layers(self) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
class EtlBuild(Workload):
    """Raw monthly CSVs -> clean -> star parquet -> wide view -> both caches.
    A part of ``BatchMix``."""

    # 1/60 of the reference's Q1 (1,645,503 rows). At this size a rebuild is
    # dominated by per-job overhead (about 22 jobs), and a cold and a warm
    # rebuild fit into one run beside the registry entries.
    ROWS = 27_425

    def generate(self) -> None:
        self.raw = os.path.join(self.work, "raw")
        self.truth = gen.flights_raw(self.raw, self.ROWS, self.seed)
        self.raw_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(self.raw, "*.csv")))
        self.out = os.path.join(self.work, "out")
        self.first_digest = None

    def rebuild(self):
        """One op: raw CSVs -> star parquet + both cache CSVs."""
        from us_flight_bigdata_dashboard_spark.flights.agg import write_cache
        from us_flight_bigdata_dashboard_spark.flights.pipeline import run_pipeline
        from us_flight_bigdata_dashboard_spark.flights.star import write_star

        tr = self.tr
        with tr.span("etl.rebuild"):
            with tr.span("pipeline.run_pipeline"):
                out = run_pipeline(self.spark, os.path.join(self.raw, "2025_0[1-3].csv"))
            with tr.span("star.write_star"):
                write_star(out.star, os.path.join(self.out, "star"))
            with tr.span("agg.write_cache_airline"):
                write_cache(out.airline_monthly, os.path.join(self.out, "airline"))
            with tr.span("agg.write_cache_airport"):
                write_cache(out.airport_perf, os.path.join(self.out, "airport"))
        return self.check

    def _read_cache(self, name: str) -> list[dict]:
        rows = []
        for p in sorted(glob.glob(os.path.join(self.out, name, "part-*.csv"))):
            with open(p, newline="") as f:
                rows.extend(csv.DictReader(f))
        return rows

    def check(self) -> list[str]:
        airline, airport = self._read_cache("airline"), self._read_cache("airport")
        t, errs = self.truth, []
        counts = {(r["airline_name"], int(r["month"])): int(r["DepDel15_count"]) for r in airline}
        if sum(counts.values()) != t["rows"]:
            errs.append(f"sum DepDel15_count {sum(counts.values())} != rows {t['rows']}")
        if counts != t["per_group"]:
            errs.append("per (airline, month) DepDel15_count differs from the generator's counts")
        cancelled = sum(int(r["Is_Cancelled_sum"]) for r in airline)
        if cancelled != t["cancelled"]:
            errs.append(f"sum Is_Cancelled_sum {cancelled} != {t['cancelled']}")
        hubs = {h[1] for h in gen.HUBS}
        if any(r["origin_city"] not in hubs for r in airport):
            errs.append("non-hub city in the airport cache")
        hub_rows = sum(int(r["total_flights"]) for r in airport)
        if hub_rows != t["hub_rows"]:
            errs.append(f"sum total_flights {hub_rows} != hub-origin rows {t['hub_rows']}")
        digest = _digest((sorted(map(sorted, (r.items() for r in airline))),
                          sorted(map(sorted, (r.items() for r in airport)))))
        if self.first_digest is None:
            self.first_digest = digest
        elif digest != self.first_digest:
            errs.append("caches differ from the first rebuild's")
        return errs

    def named(self, op_ms):
        if not op_ms.get("rebuild"):
            return {}
        p50 = _median(op_ms["rebuild"]) / 1e3
        return {"build_s_p50": {"value": p50, "unit": "s"},
                "rows_per_s": {"value": self.ROWS / p50, "unit": "1/s", "rows": self.ROWS}}

    def layers(self):
        tr = self.tr
        builds = tr.named("etl.rebuild")
        out = {f"{n}_ms": _median([s["end"] - s["start"] for s in tr.named(n)]) * 1e3
               for n in ("pipeline.run_pipeline", "star.write_star",
                         "agg.write_cache_airline", "agg.write_cache_airport")}

        def per_build(key):
            return _median([sum(c.get(key, 0) for c in tr.spans if c["parent"] == b["id"])
                            for b in builds])

        out["etl.scan_bytes_per_raw_byte"] = per_build("input_bytes") / self.raw_bytes
        out["etl.jobs_per_build"] = per_build("jobs")
        out["etl.shuffle_write_bytes"] = per_build("shuffle_write_bytes")
        out["etl.task_ms"] = per_build("task_ms")
        star = [p for p in glob.glob(os.path.join(self.out, "star", "**", "*.parquet"), recursive=True)]
        out["star.bytes_per_raw_byte"] = sum(map(os.path.getsize, star)) / self.raw_bytes
        return out


# ---------------------------------------------------------------------------
class DashboardServe(Workload):
    """One op = one dashboard refresh: the shared filter, then every chart
    query, collected, over the reference's own two cache files."""

    # Refresh times drift down over the first 35 or so refreshes as the JIT
    # warms up (about 1.5 s for the first four, 0.9 s by the 10th, 0.65 s by
    # the 30th, 0.57 s after the 40th), and then still swing by 10-20 %
    # between blocks of eight. Warm-up is a fixed four blocks of eight.
    # Letting a drift test end warm-up (on blocks of four after 12-28
    # refreshes) stopped runs on one noisy block while refreshes were still
    # getting faster, and their median read up to a fifth higher; a fifth
    # block does not fit the run budget. A run then times at least sixteen
    # refreshes.
    warmup_block = 8
    warmup_blocks = 4
    MIN_REFRESHES = 16

    # The reference dashboard's default selection: every month, first three
    # airlines.
    DEFAULT = ([1, 2, 3], ["Alaska Airlines", "Allegiant Air", "American Airlines"])
    CALLS = ("apply_shared_filter", "kpis", "airline_rank", "delay_attribution",
             "monthly_trend", "geo_rollup")

    def generate(self) -> None:
        def rows(name):
            with open(os.path.join(FIXTURES, name), newline="") as f:
                return list(csv.DictReader(f))

        self.airline_rows = rows("airline_monthly_performance.csv")
        self.airport_rows = rows("airport_performance.csv")
        # No usage data exists for the dashboard, so the traffic is an
        # assumption, kept as plain as possible: filters are drawn uniformly
        # from the reference default, every option selected, and each
        # filter option (one month, or one airline) on its own. ``named``
        # reports how many timed refreshes repeat an earlier filter.
        self.months = sorted({int(r["month"]) for r in self.airline_rows})
        self.airlines = sorted({r["airline_name"] for r in self.airline_rows})
        self.pool = [self.DEFAULT, (self.months, self.airlines),
                     *(([m], self.airlines) for m in self.months),
                     *((self.months, [a]) for a in self.airlines)]
        self.draws = iter(self.rng.integers(0, len(self.pool), 100_000))
        self.drawn: list[int] = []
        self.timed_from = 0

    def load(self, spark) -> None:
        from us_flight_bigdata_dashboard_spark.flights import serve
        from us_flight_bigdata_dashboard_spark.flights.io import read_cache_csv
        from us_flight_bigdata_dashboard_spark.flights.schemas import (
            AIRLINE_MONTHLY_SCHEMA, AIRPORT_PERFORMANCE_SCHEMA)

        self.spark = spark
        self.airline = read_cache_csv(
            spark, os.path.join(FIXTURES, "airline_monthly_performance.csv"), AIRLINE_MONTHLY_SCHEMA)
        self.airport = read_cache_csv(
            spark, os.path.join(FIXTURES, "airport_performance.csv"), AIRPORT_PERFORMANCE_SCHEMA)
        self.options = serve.filter_options(self.airline)

    def refresh(self, months, airlines) -> dict:
        from us_flight_bigdata_dashboard_spark.flights import serve

        tr, out = self.tr, {}
        with tr.span("serve.refresh"):
            with tr.span("serve.apply_shared_filter"):
                fa, fp = serve.apply_shared_filter(self.airline, self.airport, months, airlines)
            with tr.span("serve.kpis"):
                out["kpis"] = serve.kpis(fa)
            with tr.span("serve.airline_rank"):
                out["rank"] = serve.airline_rank(fa).collect()
            with tr.span("serve.delay_attribution"):
                out["attribution"] = serve.delay_attribution(fa).collect()
            with tr.span("serve.monthly_trend"):
                out["trend"] = serve.monthly_trend(fa).collect()
            with tr.span("serve.geo_rollup"):
                out["geo"] = serve.geo_rollup(fp).collect()
        return out

    def oracle(self, months, airlines) -> dict:
        """Plain-Python KPIs and chart sizes over the fixture CSVs."""
        sel = [r for r in self.airline_rows
               if int(r["month"]) in months and r["airline_name"] in airlines]
        total = sum(int(r["DepDel15_count"]) for r in sel)
        wsum = sum(float(r["on_time_rate"]) * int(r["DepDel15_count"]) for r in sel)
        cities = {r["origin_city"] for r in self.airport_rows
                  if int(r["month"]) in months and r["airline_name"] in airlines}
        return {
            "total_flights": total,
            "delayed_flights": sum(float(r["DepDel15_sum"]) for r in sel),
            "cancelled_flights": sum(int(r["Is_Cancelled_sum"]) for r in sel),
            "on_time_pct": wsum / total * 100.0 if total else 0.0,
            "rank": len({r["airline_name"] for r in sel}),
            "trend": len({int(r["month"]) for r in sel}),
            "geo": len(cities),
        }

    def compare(self, got: dict, months, airlines) -> list[str]:
        want, k, errs = self.oracle(months, airlines), got["kpis"], []
        for key in ("total_flights", "cancelled_flights"):
            if k[key] != want[key]:
                errs.append(f"{key} {k[key]} != {want[key]}")
        for key in ("delayed_flights", "on_time_pct"):
            if not math.isclose(k[key], want[key], rel_tol=1e-9):
                errs.append(f"{key} {k[key]} != {want[key]}")
        for key in ("rank", "trend", "geo"):
            if len(got[key]) != want[key]:
                errs.append(f"{key} has {len(got[key])} rows, oracle {want[key]}")
        if len(got["attribution"]) != 4:
            errs.append("delay attribution is not four causes")
        return errs

    def ops(self):
        while True:
            i = int(next(self.draws))
            self.drawn.append(i)
            months, airlines = self.pool[i]

            def op(months=months, airlines=airlines):
                got = self.refresh(months, airlines)
                return lambda: self.compare(got, months, airlines)

            yield "refresh", op

    def done(self, elapsed, seconds, n_ops):
        return elapsed >= seconds and n_ops >= self.MIN_REFRESHES

    def begin_timed(self) -> None:
        self.timed_from = len(self.drawn)

    def final_checks(self):
        k = self.refresh(*self.DEFAULT)["kpis"]
        got = (k["total_flights"], round(k["on_time_pct"], 3), k["delayed_flights"], k["cancelled_flights"])
        want = (312_974, 80.489, 61_063, 5_986)
        opts = (self.months, self.airlines)
        return [[] if got == want else [f"default filter KPIs {got} != {want}"],
                [] if self.options == opts else [f"filter options {self.options}"]]

    def named(self, op_ms):
        ms = op_ms.get("refresh")
        if not ms:
            return {}
        q = statistics.quantiles(ms, n=10) if len(ms) >= 2 else [0.0] * 9
        timed = self.drawn[self.timed_from:]
        repeats = sum(i in self.drawn[:self.timed_from + k] for k, i in enumerate(timed))
        return {"refresh_ms_p50": {"value": _median(ms), "unit": "ms"},
                "refresh_ms_p90": {"value": q[8], "unit": "ms", "samples": len(ms)},
                "filter_repeat_share": {"value": repeats / len(timed), "unit": "frac"}}

    def layers(self):
        tr = self.tr
        out = {f"serve.{c}_ms": _median([(s["end"] - s["start"]) * 1e3 for s in tr.named(f"serve.{c}")])
               for c in self.CALLS}
        refreshes = tr.named("serve.refresh")
        out["serve.jobs_per_refresh"] = _median(
            [sum(c.get("jobs", 0) for c in tr.spans if c["parent"] == r["id"]) for r in refreshes])
        out["serve.persisted_rdds_end"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        return out


# ---------------------------------------------------------------------------
class RegistryMix(Workload):
    """Registry entries, one op each: callable -> DataFrame -> collect().
    A part of ``BatchMix``."""

    ENTRIES = ("star_join_agg", "global_rank_bucketed", "dedup_clusters", "multimodal_jpeg_decode")

    def generate(self) -> None:
        from us_flight_bigdata_dashboard_spark.registry import queries

        self.data = os.path.join(self.work, "tables")
        self.tables = gen.tpch(self.data, self.seed)
        self.queries = queries()
        self.canon: dict[str, tuple] = {}

    def entry(self, name: str):
        tr = self.tr
        with tr.span(f"registry.{name}"):
            with tr.span(f"registry.{name}.build"):
                df = self.queries[name](self.spark, self.data)
            with tr.span(f"registry.{name}.collect"):
                rows = df.collect()
        return lambda: self.check(name, df.columns, rows)

    def check(self, name, cols, rows) -> list[str]:
        canon = (sorted(cols), _canon(rows, cols))
        first = self.canon.setdefault(name, canon)
        return [] if canon == first else [f"{name}: rows differ between calls"]

    def final_checks(self):
        """Each entry against its DuckDB oracle, once per run."""
        import duckdb

        from us_flight_bigdata_dashboard_spark.registry import oracle_sql

        sql, out = oracle_sql(), []
        con = duckdb.connect()
        try:
            for t in ("region", "nation", *self.tables):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name in self.ENTRIES:
                res = con.execute(sql[name])
                cols = [d[0] for d in res.description]
                same = (sorted(cols), _canon(res.fetchall(), cols)) == self.canon.get(name)
                out.append([] if same else [f"{name}: differs from its DuckDB oracle"])
        finally:
            con.close()
        return out

    def named(self, op_ms):
        meds = [_median(op_ms[e]) for e in self.ENTRIES if op_ms.get(e)]
        if len(meds) < len(self.ENTRIES):
            return {}
        return {"entry_ms_geomean": {"value": geomean(meds), "unit": "ms"}}

    def layers(self):
        tr, out = self.tr, {}
        for e in self.ENTRIES:
            for part in ("build", "collect"):
                out[f"registry.{e}.{part}_ms"] = _median(
                    [(s["end"] - s["start"]) * 1e3 for s in tr.named(f"registry.{e}.{part}")])
            kids = [[c for c in tr.spans if c["parent"] == s["id"]] for s in tr.named(f"registry.{e}")]
            out[f"registry.{e}.jobs"] = _median([sum(c.get("jobs", 0) for c in k) for k in kids])
            out[f"registry.{e}.shuffle_bytes"] = _median(
                [sum(c.get("shuffle_write_bytes", 0) for c in k) for k in kids])
        return out


class BatchMix(Workload):
    """Batch jobs in one closed loop: each pass runs the ETL rebuild and every
    registry entry once, in an order drawn from the seed. Between ops,
    outside the timed region, cached data and checkpoint blocks are dropped
    and the JVM collects garbage, so every job starts from the same heap."""

    def __init__(self, work, seed, tracer):
        super().__init__(work, seed, tracer)
        self.etl = EtlBuild(work, seed, tracer)
        self.reg = RegistryMix(work, seed, tracer)
        # One warm-up pass (every op kind's cold first call) and one timed
        # pass. Ops keep getting faster for about four passes, but a second
        # warm-up pass does not fit the run budget, and a second timed pass
        # did not make the runs agree better (see DESIGN.md).
        self.warmup_block = 1 + len(RegistryMix.ENTRIES)
        self._boundary = False

    def generate(self):
        self.etl.generate()
        self.reg.generate()

    def load(self, spark):
        self.spark = self.etl.spark = self.reg.spark = spark

    def ops(self):
        kinds = ["rebuild", *RegistryMix.ENTRIES]
        while True:
            order = list(kinds)
            self.rng.shuffle(order)
            for i, name in enumerate(order):
                self._boundary = i == len(order) - 1
                if name == "rebuild":
                    yield name, self.etl.rebuild
                else:
                    yield name, lambda name=name: self.reg.entry(name)

    def cleanup(self) -> None:
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist()
        sc._jvm.System.gc()

    def done(self, elapsed, seconds, n_ops):
        return elapsed >= seconds and self._boundary

    def final_checks(self):
        return self.reg.final_checks()

    def named(self, op_ms):
        return {**self.etl.named(op_ms), **self.reg.named(op_ms)}

    def layers(self):
        return {**self.etl.layers(), **self.reg.layers()}


def geomean(xs) -> float:
    return math.exp(statistics.mean(map(math.log, xs)))


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _canon(rows, cols) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, cells
    stringified, rows sorted (the registry contract's correctness compare,
    as in tools/check_oracle.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


WORKLOADS = {"dashboard_serve": DashboardServe, "batch_mix": BatchMix}
