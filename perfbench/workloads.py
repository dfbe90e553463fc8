"""The benchmark's three workloads.

Each is a closed loop with one client: the driver thread waits for every
operation to finish before it starts the next. A workload has

- ``prepare``: write its seeded inputs (not part of the measured set-up);
- ``first_pass``: the cold first pass after set-up, with output checks; it
  returns the seconds spent in engine calls, the checks left out;
- ``timed_pass``: one warm pass, the unit the measured phase repeats;
- ``final_checks``: checks that need the state after every pass.

Operations report through a ``Ledger``: each gets a name, a latency and,
when it fails or returns a wrong result, the exception or mismatch.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import fixture

DIGEST_MOD = 2147483647  # keeps the summed hashes far from BIGINT overflow


@dataclass
class Ledger:
    """Every attempted operation, its latency and its failures."""

    attempted: int = 0
    recording: bool = True  # off: latencies of the cold first pass are not kept
    failures: list[tuple[str, str]] = field(default_factory=list)
    latencies: dict[str, list[float]] = field(default_factory=dict)

    def fail(self, name: str, why: str) -> None:
        self.failures.append((name, why))
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr, flush=True)

    def run(self, name: str, fn, *args):
        """Run one operation; an exception counts it as failed and is
        reported with its type and message, never swallowed silently."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as exc:  # noqa: BLE001 — the harness must keep going
            traceback.print_exc(file=sys.stderr)
            self.fail(name, f"{type(exc).__name__}: {exc}")
            out = None
        if self.recording:
            self.latencies.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def check(self, name: str, ok: bool, why: str) -> None:
        """Count an output check as an operation of its own."""
        self.attempted += 1
        if not ok:
            self.fail(name, why)


def open_catalog(spark, sf_dir: Path) -> None:
    """Set-up step: open every table through ``catalog.load_table``, which
    reads each file's schema and checks it against the declared one."""
    from poc_juma_etl_spark.catalog import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        load_table(spark, str(sf_dir), name)


def digest(df) -> tuple[int, int]:
    """Order-insensitive digest that computes every output column inside
    Spark: the row count and the sum of ``xxhash64(all columns) mod p``.
    ``.count()`` would let Catalyst prune the columns away."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(DIGEST_MOD))),
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


class QueryWorkload:
    """A seeded permutation of registered queries per pass."""

    def __init__(self, names: list[str], scale: float, seed: int, run_dir: Path):
        self.names = names
        self.scale = scale
        self.seed = seed
        self.sf_dir = run_dir / "src"
        self.rng = random.Random(seed)
        self.expected: dict[str, tuple[int, int]] = {}

    def prepare(self) -> None:
        self.source_bytes = fixture.write(fixture.tables(self.scale, self.seed), self.sf_dir)
        from poc_juma_etl_spark import all_queries

        self.specs = all_queries()
        unknown = [n for n in self.names if n not in self.specs]
        if unknown:
            raise KeyError(f"queries not in the registry: {unknown}")

    def _order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def _query(self, spark, tracer, name: str, cache: bool = False):
        with tracer.span("bench.query", query=name):
            with tracer.span("plans.build", query=name):
                df = self.specs[name].fn(spark, str(self.sf_dir))
            if cache:
                df = df.cache()
            with tracer.span("plans.action", query=name):
                return df, digest(df)

    def _release(self, tracer) -> None:
        from poc_juma_etl_spark.plans.queries import release_caches

        with tracer.span("cache.release"):
            release_caches()

    def first_pass(self, spark, tracer, ledger: Ledger) -> float:
        """Cold pass. Each result is cached and digested (timed), then
        compared with its DuckDB oracle (not timed); its digest becomes the
        value every timed run of the query must reproduce."""
        from poc_juma_etl_spark.oracle import compare, duckdb_connect

        con = duckdb_connect(str(self.sf_dir))
        engine_s = 0.0
        for name in self._order():
            t0 = time.perf_counter()
            out = ledger.run(name, self._query, spark, tracer, name, True)
            engine_s += time.perf_counter() - t0
            if out is not None:
                df, dig = out
                self.expected[name] = dig
                oracle = self.specs[name].oracle
                if oracle is not None:
                    try:
                        rep = compare(df, con.execute(oracle).fetchdf())
                        ledger.check(f"oracle:{name}", rep["match"] is True,
                                     str(rep.get("why")))
                    except Exception as exc:  # noqa: BLE001
                        ledger.check(f"oracle:{name}", False, f"{type(exc).__name__}: {exc}")
                df.unpersist()
            t0 = time.perf_counter()
            self._release(tracer)
            engine_s += time.perf_counter() - t0
        con.close()
        return engine_s

    def timed_pass(self, spark, tracer, ledger: Ledger) -> None:
        for name in self._order():
            out = ledger.run(name, self._query, spark, tracer, name)
            if out is not None:
                got = out[1]
                want = self.expected.get(name)
                ledger.check(
                    f"digest:{name}", got == want, f"digest {got} != first-pass digest {want}"
                )
            self._release(tracer)

    def final_checks(self, spark, tracer, ledger: Ledger) -> None:
        """With tracing on, check the SQL scan metric against the inputs:
        every table is one file, so every scan of a traced query that ran
        must report the size of one input file (to the metric's rounding).
        A scan that did not run reports 0."""
        if not tracer.enabled:
            return
        sizes = [p.stat().st_size for p in self.sf_dir.glob("*.parquet")]
        for op in tracer.spans:
            if op.name != "bench.query":
                continue
            scans = [v for s in tracer.subtree(op) for v in s.counters.get("scans", [])]
            odd = [v for v in scans
                   if v and not any(abs(v - n) <= max(64, 0.005 * n) for n in sizes)]
            ledger.check(f"scan_bytes:{op.attrs['query']}", any(scans) and not odd,
                         f"scans {scans} do not match the input file sizes {sorted(sizes)}")

    def storage_ratio(self) -> float:
        return 0.0


# -- etl_nightly -------------------------------------------------------------

# (table, date field, partition granularity, corrected column, Gold view)
FACTS = (
    ("events", "ts", "day", "value", "vw_event_hourly"),
    ("lineitem", "l_shipdate", "month", "l_extendedprice", "vw_lineitem_pricing"),
    ("orders", "o_orderdate", "month", "o_totalprice", "vw_order_revenue"),
)
WINDOW_DAYS = 7

# DuckDB forms of the Gold views (plans/gold.py VIEW_SQL) over the expected
# RAW tables
GOLD_ORACLE = {
    "vw_lineitem_pricing": """
        SELECT l_orderkey, l_partkey, l_suppkey, l_returnflag, l_linestatus,
               l_quantity, l_extendedprice * (1 - l_discount) AS net_price,
               l_shipdate, date_trunc('month', l_shipdate) AS ship_month
        FROM exp_lineitem""",
    "vw_order_revenue": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               o_totalprice, o_orderdate, date_trunc('month', o_orderdate) AS order_month
        FROM exp_orders""",
    "vw_event_hourly": """
        SELECT date_trunc('hour', ts) AS event_hour, CAST(ts AS DATE) AS event_date,
               event_type, count(*) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        FROM exp_events
        GROUP BY 1, 2, 3""",
}


def _month_span(start: dt.date, end: dt.date) -> tuple[dt.date, dt.date]:
    first = start.replace(day=1)
    nxt = (end.replace(day=1) + dt.timedelta(days=32)).replace(day=1)
    return first, nxt - dt.timedelta(days=1)


class EtlWorkload:
    """Bootstrap ``etl.run_all`` into an empty warehouse, then seeded
    7-day refresh cycles over the three fact tables and their Gold views."""

    names = [f"replace_range:{t[0]}" for t in FACTS] + [f"gold_refresh:{t[4]}" for t in FACTS]

    def __init__(self, scale: float, seed: int, run_dir: Path, max_cycles: int):
        self.scale = scale
        self.seed = seed
        self.sf_dir = run_dir / "src"
        self.corr_dir = run_dir / "corrections"
        self.wh = run_dir / "warehouse"
        self.max_cycles = max_cycles
        self.cycles: list[dict[str, tuple[dt.date, dt.date, int]]] = []
        self.applied: list[int] = []
        self.source_bytes = 0

    def prepare(self) -> None:
        tabs = fixture.tables(self.scale, self.seed)
        self.source_bytes = fixture.write(tabs, self.sf_dir)
        rng = np.random.default_rng(self.seed + 1)
        ship_days = fixture.SHIP_DAYS - WINDOW_DAYS
        for k in range(self.max_cycles):
            ev0 = fixture.EVENT_DAY0 + dt.timedelta(
                days=int(rng.integers(0, fixture.EVENT_DAYS - WINDOW_DAYS + 1))
            )
            li0 = fixture.SHIP_DAY0 + dt.timedelta(days=int(rng.integers(0, ship_days)))
            starts = {"events": ev0, "lineitem": li0, "orders": li0}
            cycle = {}
            for table, fld, _, col, _ in FACTS:
                start = starts[table]
                end = start + dt.timedelta(days=WINDOW_DAYS - 1)
                tab = tabs[table]
                day = pc.cast(pc.floor_temporal(tab[fld], unit="day"), pa.date32())
                mask = pc.and_(
                    pc.greater_equal(day, pa.scalar(start, pa.date32())),
                    pc.less_equal(day, pa.scalar(end, pa.date32())),
                )
                win = tab.filter(mask)
                factor = rng.uniform(0.5, 1.5, win.num_rows)
                fixed = np.round(win[col].to_numpy() * factor, 2)
                win = win.set_column(win.schema.get_field_index(col), col, pa.array(fixed))
                out = self.corr_dir / str(k)
                out.mkdir(parents=True, exist_ok=True)
                pq.write_table(win, out / f"{table}.parquet")
                cycle[table] = (start, end, win.num_rows)
            self.cycles.append(cycle)

    def first_pass(self, spark, tracer, ledger: Ledger) -> float:
        """Bootstrap load: 10 RAW tables and 3 Gold tables into an empty
        warehouse, with as many pool threads as cores."""
        t0 = time.perf_counter()
        with _traced_etl(tracer):
            ledger.run("load:run_all", _bootstrap, tracer, spark, str(self.sf_dir), str(self.wh))
        return time.perf_counter() - t0

    def timed_pass(self, spark, tracer, ledger: Ledger) -> None:
        """One refresh cycle: replace a 7-day window of each fact table with
        corrected rows, then refresh the Gold partitions the windows touch."""
        from poc_juma_etl_spark.catalog import load_table
        from poc_juma_etl_spark.operators.range_replace import replace_range

        k = len(self.applied) % self.max_cycles
        cycle = self.cycles[k]
        self.applied.append(k)
        for table, fld, gran, _, _ in FACTS:
            start, end, rows = cycle[table]

            def step(table=table, fld=fld, gran=gran, start=start, end=end, rows=rows):
                with tracer.span("bench.refresh", table=table):
                    new_rows = load_table(spark, str(self.corr_dir / str(k)), table)
                    with tracer.span("write.replace_range", table=table, window_rows=rows):
                        replace_range(
                            spark, str(self.wh / table), new_rows, fld, start, end, gran
                        )

            ledger.run(f"replace_range:{table}", step)
        for table, _, gran, _, view in FACTS:
            start, end, _ = cycle[table]
            if gran == "month":
                start, end = _month_span(start, end)
            ledger.run(
                f"gold_refresh:{view}", self._gold_refresh, spark, tracer, table, view,
                start, end,
            )

    def _gold_refresh(self, spark, tracer, table, view, start, end) -> None:
        from poc_juma_etl_spark.operators.range_replace import read_table
        from poc_juma_etl_spark.plans import gold

        with tracer.span("bench.gold", view=view):
            # the RAW view must list the files the replacement just wrote
            read_table(spark, str(self.wh / table)).createOrReplaceTempView(table)
            gold.define_gold_view(spark, view)
            with tracer.span("gold.refresh_incremental", view=view):
                gold.refresh_incremental(spark, view, str(self.wh), str(start), str(end))

    def final_checks(self, spark, tracer, ledger: Ledger) -> None:
        """Compare the final RAW and Gold tables with the state DuckDB
        derives from the source files plus every applied correction."""
        import duckdb

        from poc_juma_etl_spark.oracle import compare
        from poc_juma_etl_spark.operators.range_replace import read_table
        from poc_juma_etl_spark.plans.gold import GOLD_SPECS

        con = duckdb.connect()
        for table, fld, _, _, _ in FACTS:
            parts = []
            covered = []  # windows of later cycles, newest first
            for k in reversed(self.applied):
                start, end, _ = self.cycles[k][table]
                here = f"CAST({fld} AS DATE) BETWEEN DATE '{start}' AND DATE '{end}'"
                later = "".join(f" AND NOT ({c})" for c in covered)
                path = self.corr_dir / str(k) / f"{table}.parquet"
                parts.append(f"SELECT * FROM read_parquet('{path}') WHERE {here}{later}")
                covered.append(here)
            rest = "".join(f" AND NOT ({c})" for c in covered)
            parts.append(
                f"SELECT * FROM read_parquet('{self.sf_dir / table}.parquet') WHERE TRUE{rest}"
            )
            con.execute(f"CREATE TABLE exp_{table} AS " + " UNION ALL ".join(parts))

        checks = [(f"state:{t[0]}", str(self.wh / t[0]), f"exp_{t[0]}") for t in FACTS]
        for _, _, _, _, view in FACTS:
            table = GOLD_SPECS[view].table
            con.execute(f"CREATE TABLE exp_{table} AS {GOLD_ORACLE[view]}")
            checks.append((f"state:{table}", str(self.wh / table), f"exp_{table}"))
        for name, path, exp in checks:
            try:
                df = read_table(spark, path)
                want_cols = sorted(r[0] for r in con.execute(f"DESCRIBE {exp}").fetchall())
                if sorted(df.columns) != want_cols:
                    ledger.check(name, False, f"columns {sorted(df.columns)} != {want_cols}")
                    continue
                spark_sql, duck_sql = _fingerprint_sql(df.schema)
                want = con.execute(f"SELECT {', '.join(duck_sql)} FROM {exp}").fetchdf()
                rep = compare(df.selectExpr(*spark_sql), want)
                ledger.check(name, rep["match"] is True,
                             f"{rep.get('why')}: {rep.get('first_diffs')}")
            except Exception as exc:  # noqa: BLE001
                ledger.check(name, False, f"{type(exc).__name__}: {exc}")
        con.close()

    def storage_ratio(self) -> float:
        """Warehouse bytes on disk over source bytes loaded."""
        wh = sum(p.stat().st_size for p in self.wh.rglob("*") if p.is_file())
        return wh / self.source_bytes


def _fingerprint_sql(schema) -> tuple[list[str], list[str]]:
    """One-row aggregate of a table that both engines compute exactly: the
    row count, and per column an exact decimal sum (numbers), the summed
    epoch microseconds or days (timestamps, dates) or the summed length
    (strings). Sums go out as strings so the two engines' result types
    cannot differ."""
    from pyspark.sql import types as T

    spark_sql, duck_sql = ["count(1) AS n_rows"], ["count(*) AS n_rows"]
    for f in schema.fields:
        c, t = f.name, f.dataType
        if isinstance(t, T.StringType):
            s = d = f"sum(length({c}))"
        elif isinstance(t, T.TimestampType):
            s = f"sum(CAST(unix_micros({c}) AS DECIMAL(38,0)))"
            d = f"sum(CAST(epoch_us({c}) AS DECIMAL(38,0)))"
        elif isinstance(t, T.DateType):
            s, d = f"sum(unix_date({c}))", f"sum(date_diff('day', DATE '1970-01-01', {c}))"
        else:
            s = d = f"sum(CAST({c} AS DECIMAL(38,6)))"
        spark_sql.append(f"CAST({s} AS STRING) AS {c}")
        duck_sql.append(f"CAST({d} AS VARCHAR) AS {c}")
    return spark_sql, duck_sql


def _bootstrap(tracer, spark, sf_dir, wh) -> None:
    from poc_juma_etl_spark import etl

    workers = len(os.sched_getaffinity(0))
    with tracer.span("bench.load"):
        with tracer.span("etl.run_all", workers=workers):
            etl.run_all(spark, sf_dir, wh, max_workers=workers, materialize_gold=True)


@contextlib.contextmanager
def _traced_etl(tracer):
    """With tracing on, wrap ``etl.run_table`` (looked up by ``run_all`` at
    call time, from pool threads) and ``gold.materialize`` in spans."""
    if not tracer.enabled:
        yield
        return
    from poc_juma_etl_spark import etl
    from poc_juma_etl_spark.plans import gold

    run_table, materialize = etl.run_table, gold.materialize

    def traced_run_table(spark, sf_dir, wh, name, *a, **kw):
        parent = tracer.find("etl.run_all")
        with tracer.span("etl.run_table", parent=parent, table=name):
            return run_table(spark, sf_dir, wh, name, *a, **kw)

    def traced_materialize(spark, view, wh, *a, **kw):
        with tracer.span("gold.materialize", view=view):
            return materialize(spark, view, wh, *a, **kw)

    etl.run_table, gold.materialize = traced_run_table, traced_materialize
    try:
        yield
    finally:
        etl.run_table, gold.materialize = run_table, materialize


# Scan, join, aggregate and window queries: few jobs each, time spent in
# JVM operators and shuffle.
STAR_QUERIES = [
    "q1_pricing_summary",
    "q3_top_unshipped_revenue",
    "q5_region_nation_revenue",
    "q21_suppliers_kept_waiting",
    "q_window_topk_per_brand",
    "q_shuffle_hash_join",
]

# LLM-pipeline operators: many driver round-trips (k-core peels and BFS
# expands one round per job) or time spent across the Python/Arrow boundary.
PIPELINE_QUERIES = [
    "q_graph_kcore",
    "q_graph_bfs_hops",
    "q_multimodal_jpeg420_decode",
    "q_arrow_vector_norms",
]

# input scale of each workload (lineitem rows = 6e6 * scale)
SCALES = {"etl_nightly": 0.01, "query_star": 0.1, "query_pipeline": 0.01}


def make(name: str, seed: int, run_dir: Path, seconds: int):
    scale = SCALES[name]
    if name == "etl_nightly":
        return EtlWorkload(scale, seed, run_dir, max_cycles=seconds + 2)
    if name == "query_star":
        return QueryWorkload(STAR_QUERIES, scale, seed, run_dir)
    if name == "query_pipeline":
        return QueryWorkload(PIPELINE_QUERIES, scale, seed, run_dir)
    raise KeyError(name)
